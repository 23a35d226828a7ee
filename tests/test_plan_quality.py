"""Physical-plan quality checks: these assert the *shape* of the plans
(pushdown, broadcast, shuffle-freedom), not results — the properties
that decide whether the engine survives a 100× scale-up."""

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from metacat_spark.catalog import from_materialized
from metacat_spark.engine import Engine


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def mat_engine(spark):
    return Engine(from_materialized(spark, SF_DIR))


def test_predicate_pushdown_to_parquet(mat_engine):
    """Shredded-column predicates must reach the parquet scan as
    PushedFilters — the whole point of shredding (GIN substitute)."""
    df = mat_engine.query(
        "files where core.run > 250 and core.data_type = mc")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = " ".join(pushed)
    assert "m_core_run" in joined and "GreaterThan" in joined
    assert "m_core_data_type" in joined


def test_column_pruning(mat_engine):
    """A 4-column projection must not read the wide metadata JSON."""
    df = mat_engine.query("files from dune:urgent_0").select(
        "id", "namespace", "name", "size")
    plan = plan_of(df)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    files_scans = [ln for ln in scan_lines if "m_core_run" in ln
                   or "metadata" in ln]
    assert not files_scans, f"metadata read for a 4-col projection: " \
                            f"{files_scans}"


def test_membership_join_is_shuffle_free(mat_engine):
    """files and files_datasets are bucketed on the join key — the
    membership semi-join must not add an Exchange on either side."""
    df = mat_engine.query("files from dune:urgent_0")
    plan = plan_of(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
    # bucketed-to-bucketed: no hash-shuffle anywhere in the plan.
    # (Formatted explain prints the Exchange operator and its
    # "Arguments: hashpartitioning(...)" on SEPARATE lines, so the
    # old "Exchange hashpartitioning(id" substring could never match
    # — the assertion was unfalsifiable; review r6. A broadcast of
    # the tiny dataset-selector side is fine and expected.)
    assert "hashpartitioning" not in plan, "membership join shuffled"


def test_membership_join_stays_shuffle_free_after_a_write(spark):
    """A declare replaces files and files_datasets with resident tables
    laid out at the bucket count, co-partitioned with the bucketed
    parent_child it left alone: the membership semi-join still adds no
    hash shuffle (a fresh catalog, so mat_engine stays unwritten). The
    formatted plan names the resident scans' declared hashpartitioning,
    so this reads the one-line plan, where an Exchange prints with its
    partitioning."""
    from metacat_spark.dml import DML
    cat = from_materialized(spark, SF_DIR)
    DML(cat).declare_files([{"id": "pq-write-0", "namespace": "dune",
                             "name": "pq0.dat"}], dataset=("test", "all"))
    df = Engine(cat).query("files from dune:urgent_0")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_dataset_selector_broadcast(mat_engine):
    """The resolved dataset list (tiny) must broadcast into the
    membership filter, never shuffle the big side."""
    df = mat_engine.query(
        "files from test:all with subsets recursively")
    plan = plan_of(df)
    assert "BroadcastExchange" in plan


def test_ids_unique_invariant_carried_not_probed(spark, mat_engine):
    """The materialized catalog carries the id-uniqueness invariant
    from its table property (recorded once at ingest) — a set-op query
    must NOT run a groupBy-count probe over the whole files table
    first. Publishing a new files table outside DML makes the flag
    unknown (round-3 advisor note), so a table swap can only cause a
    re-probe, never a stale fast-path answer."""
    from conftest import spark_jobs
    cat = mat_engine.cat
    assert cat.ids_unique is not None  # known before any query runs
    # the gate only launches the probe job when the flag is unknown —
    # with it known, the call must run no Spark job
    flags = []
    assert spark_jobs(
        spark, lambda: flags.append(mat_engine._file_ids_unique())) == []
    assert flags == [cat.ids_unique]
    prev, files = cat.ids_unique, cat.files
    try:
        cat.publish(files=files.select("*"))
        assert cat.ids_unique is None
    finally:
        cat.publish(files=files, ids_unique=prev)


def test_dml_mutations_preserve_ids_unique(spark):
    """Invariant-preserving DML (PK-checked declare, point patches)
    must not drop the flag back to unknown."""
    from metacat_spark.catalog import from_tpch
    from metacat_spark.dml import DML
    cat = from_tpch(spark, SF_DIR)
    cat.publish(ids_unique=True)  # pretend recorded at ingest
    dml = DML(cat)
    dml.declare_files([{"id": "plan_q_f1", "namespace": "dune",
                        "name": "plan_q_f1.dat", "size": 1}])
    assert cat.ids_unique is True
    dml.retire_file("plan_q_f1")
    assert cat.ids_unique is True
    dml.move_files(["plan_q_f1"], "test")
    assert cat.ids_unique is True
    dml.update_file_metadata("plan_q_f1", {"core.run": 7})
    assert cat.ids_unique is True


def test_limit_no_global_sort(mat_engine):
    """ordered limit n must be a TakeOrderedAndProject (top-k), not a
    full global Sort."""
    df = mat_engine.query("files from dune:urgent_0 ordered limit 10")
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_after_id_cursor_no_global_sort(mat_engine):
    """Id-cursor pagination (after_id/page_size) must compile to a
    pruned scan + top-k (TakeOrderedAndProject) — never the global
    Exchange(rangepartitioning)+Sort that MQL `skip` pays. This is the
    scale path docs/SCALING.md promises."""
    df = mat_engine.query("files from test:all",
                          after_id="f_0100", page_size=100)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    # bare substring: formatted explain splits the operator and its
    # arguments across lines (review r6 — the two-word form never
    # matched anything)
    assert "rangepartitioning" not in plan.lower()
    # the cursor predicate reaches the parquet scan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("GreaterThan(id" in ln for ln in pushed)


def test_after_id_cursor_pages_reconstruct(mat_engine):
    """Walking the cursor reconstructs exactly the ordered id list."""
    want = [r["id"] for r in
            mat_engine.query("files from dune:urgent_0 ordered")
            .select("id").collect()]
    got, cursor = [], None
    while True:
        page = [r["id"] for r in
                mat_engine.query("files from dune:urgent_0",
                                 after_id=cursor, page_size=250)
                .select("id").collect()]
        if not page:
            break
        assert page == sorted(page)
        got.extend(page)
        cursor = page[-1]
    assert got == want


def test_whole_stage_codegen_for_predicates(mat_engine):
    df = mat_engine.query(
        "files where core.run in 1:100 and core.good = true")
    plan = plan_of(df)
    # formatted mode marks codegen stages with a '*' prefix
    assert "* Filter" in plan and "* ColumnarToRow" in plan


def test_text_analysis_no_python_workers(spark):
    """The whole text-analysis projection (incl. the BPE pre-tokenizer)
    must compile to JVM expressions — no BatchEvalPython /
    ArrowEvalPython stage in the hot path. analyze() now spreads a
    1-partition input (an Exchange), which wraps the plan in
    AdaptiveSparkPlan — execute first so the FINAL plan (with codegen
    annotations) is what gets asserted, not the pre-AQE sketch."""
    from metacat_spark.llm.text import analyze
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = analyze(docs)
    # count() would build a SEPARATE (aggregated) query execution;
    # collect() executes THIS df's plan so AQE finalizes it in place
    df.collect()
    plan = plan_of(df)
    assert "EvalPython" not in plan
    assert "codegen id" in plan


def test_connected_components_no_cartesian(spark):
    """One CC round: both star passes are key-equi joins — a plan with
    CartesianProduct or BroadcastNestedLoopJoin would be quadratic."""
    from metacat_spark.llm.dedup import connected_components
    edges = spark.createDataFrame([(i, i + 1) for i in range(50)],
                                  ["id_a", "id_b"])
    plan = plan_of(connected_components(edges, max_rounds=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_topk_no_interpreted_hof(spark):
    """IVF centroid assignment and candidate scoring must be Arrow
    GEMM stages — no interpreted aggregate(zip_with(...)) higher-order
    dots per row (the 100 TB scale-killer flagged in round 2)."""
    from metacat_spark.llm.similarity import ivf_topk
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(ivf_topk(embs, k=3, n_lists=8, n_probe=2))
    assert "aggregate(" not in plan and "zip_with" not in plan, \
        "interpreted HOF dot products in IVF plan"
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan or "mapInPandas" in plan


def test_stratified_sample_no_interpreted_hof(spark):
    """The sampling hash must be the Arrow pandas_udf over a narrow
    projection — no interpreted aggregate(transform(...)) adler32 per
    row (the round-3 `weak` finding)."""
    from metacat_spark.llm.pipeline import stratified_sample
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(stratified_sample(docs, {"en": 0.5, "de": 1.0}))
    assert "aggregate(" not in plan and "transform(" not in plan, \
        "interpreted HOF adler32 in sampling plan"
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_normalize_text_single_python_stage(spark):
    """normalize_text runs ONE Arrow Python stage evaluating ONE
    UDF call. Node count alone is unfalsifiable for the duplication
    class (ExtractPythonUDFs dedups EQUAL UDF expressions into one
    node — verified: a triple-written equal call still plans one
    node; review r7), so this also counts the udf invocations in
    the node's Arguments detail line — a rewrite that applies the
    udf to two DIFFERENT expressions (the guardable regression)
    shows up there."""
    from metacat_spark.llm.text import normalize_text
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(normalize_text(docs))
    n_nodes = len({ln.strip() for ln in plan.splitlines()
                   if "ArrowEvalPython" in ln and ln.strip()
                   .startswith("(")})
    assert n_nodes == 1, f"{n_nodes} Python stages"
    # detail format: "Arguments: [run(text#1)#5], [pythonUDF0#13], N"
    args = [ln for ln in plan.splitlines()
            if ln.startswith("Arguments:") and "run(" in ln]
    assert len(args) == 1 and args[0].count("run(") == 1, \
        f"NFC udf evaluated more than once: {args}"
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_chunk_tokens_shuffle_free(spark):
    """Token-window chunking is a narrow explode + slice assembly —
    no Exchange, no window sort, no Python stage (same scale shape
    as shingle_rows)."""
    from metacat_spark.llm.text import chunk_tokens
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(chunk_tokens(docs))
    assert "Exchange" not in plan and "hashpartitioning" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_drop_common_lines_relational(spark):
    """Boilerplate line dedup is all-JVM and pairwise-free: no
    Python stage, no cartesian, and the only line-identity payload
    crossing shuffles is the 8-byte xxhash64 (the line TEXT itself
    appears in exchanges only attached to its own doc row)."""
    from metacat_spark.llm.dedup import drop_common_lines
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(drop_common_lines(docs))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    """Feature extraction must run as ONE Arrow-batched python stage
    (mapInPandas), not row-at-a-time BatchEvalPython."""
    from metacat_spark.llm.multimodal import (extract_features,
                                              synthesize_assets)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(extract_features(synthesize_assets(docs)))
    assert "MapInPandas" in plan or "mapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_pack_sequences_single_python_stage(spark):
    """Packing's only Python is the per-group FFD (one
    FlatMapGroupsInPandas over narrow rows); chunk splitting must be
    relational (sequence+explode in codegen) and no row-at-a-time
    Python may appear."""
    from metacat_spark.llm.packing import pack_sequences
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(pack_sequences(docs, max_tokens=512,
                                  group_docs=200))
    # tree lines read "FlatMapGroupsInPandas (n)"; the detail section
    # repeats the operator as "(n) FlatMapGroupsInPandas" — count the
    # tree form to count STAGES
    assert plan.count("FlatMapGroupsInPandas (") == 1
    assert "BatchEvalPython" not in plan
    assert "Generate" in plan  # relational chunk explode


def test_cross_corpus_lsh_no_cartesian(spark):
    """The banded cross-corpus candidate join must stay a key-equi
    join on the hashed band key (r8) — never a cartesian/nested-loop
    — and carry no Python stage at all."""
    from metacat_spark.llm.dedup import cross_corpus_lsh
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    test = docs.where("doc_id % 2 = 0")
    train = docs.where("doc_id % 2 = 1")
    plan = plan_of(cross_corpus_lsh(test, train, n=2, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_cross_corpus_containment_no_cartesian(spark):
    """Containment shares the inverted-index join shape: key-equi on
    shingle, no cartesian/nested-loop, no Python stage."""
    from metacat_spark.llm.dedup import cross_corpus_containment
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    test = docs.where("doc_id % 2 = 0")
    train = docs.where("doc_id % 2 = 1")
    plan = plan_of(cross_corpus_containment(test, train, n=5,
                                            threshold=0.8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_select_token_budget_no_global_sort(spark):
    """The budget prefix must come from the per-score offset + within-
    score running sum — never a global rangepartitioning sort over the
    document table — and stay JVM-only."""
    from metacat_spark.llm.pipeline import select_token_budget
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(select_token_budget(docs, 15000))
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(score" in plan
    assert "EvalPython" not in plan


def test_bigram_logprob_all_jvm(spark):
    """Bigram LM scoring is pure relational: no Python stage, no
    cartesian — counts join back on narrow keys."""
    from metacat_spark.llm.text import bigram_logprob
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(bigram_logprob(docs))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join is allowed: the broadcast cross
    # against the 1-row totals aggregate
    import re
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin",
                          plan)) == 1


def test_repetition_scores_all_jvm(spark):
    """Repetition signals are pure relational aggregation — no Python
    stage, codegen throughout."""
    from metacat_spark.llm.pipeline import repetition_scores
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(repetition_scores(docs, n=2))
    # (AQE wraps the join plan, so codegen ids aren't printed until
    # execution — Python-freedom is the scale claim here)
    assert "EvalPython" not in plan


def test_pii_redaction_all_jvm(spark):
    """The scrub projection (5 chained regexp_replace + counts) must
    compile to one codegen projection — no Python."""
    from metacat_spark.llm.text import pii_count, redact_pii
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = docs.select(redact_pii(F.col("text")).alias("r"),
                     pii_count(F.col("text")).alias("n"))
    plan = plan_of(df)
    assert "EvalPython" not in plan
    assert "codegen id" in plan


def test_duplicate_spans_all_jvm_no_pairwise(spark):
    """ExactSubstr span dedup must stay fully relational: no Python
    stages (BatchEvalPython/ArrowEval), no cartesian/nested-loop
    pairwise join — duplicated grams come from a map-side-combinable
    groupBy + left-semi join, linear in total tokens."""
    from metacat_spark.llm.dedup import duplicate_spans
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(duplicate_spans(docs, n=8, min_count=2))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the dup-gram reduction must partial-aggregate map-side
    # (strict: ANY HashAggregate satisfied the old disjunct —
    # review r6)
    assert "partial_count" in plan


def test_duplicate_char_spans_all_jvm_no_pairwise(spark):
    """The char-granularity ExactSubstr variant keeps the token
    variant's plan contract: fully relational, map-side-combinable
    gram count, no Python stages, no pairwise joins."""
    from metacat_spark.llm.dedup import duplicate_char_spans
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(duplicate_char_spans(docs, k=30, min_count=2))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_postings_lifecycle_broadcast_only(spark, tmp_path):
    """retire/live/compact never shuffle the postings: the
    tombstone/dirty-list sides are broadcast (anti/semi joins), so a
    100 TB postings table pays one scan per verb, no exchange of
    corpus-sized data."""
    from metacat_spark.llm.similarity import (build_ivfpq_index,
                                              compact_postings,
                                              encode_ivfpq,
                                              live_postings,
                                              retire_vectors)
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = build_ivfpq_index(embs, n_lists=8, m=8, n_codes=16,
                            train_iters=1)
    post = encode_ivfpq(embs, idx)
    for name, df in (
            ("retire", retire_vectors(post, [0, 1])),
            ("live", live_postings(post)),
            ("compact", compact_postings(post))):
        plan = plan_of(df)
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_ivf_pq_no_interpreted_hof(spark):
    """IVF-PQ encode/assign and ADC scoring are Arrow stages; no
    interpreted per-row HOF dots, no row-level Python."""
    from metacat_spark.llm.similarity import ivf_pq_topk
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(ivf_pq_topk(embs, k=3, n_lists=8, n_probe=2,
                               n_codes=16))
    assert "aggregate(" not in plan and "zip_with" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan or "mapInPandas" in plan


def test_classifier_score_broadcasts_weights(spark):
    """The vocabulary weight table must broadcast — the corpus-side
    token rows never shuffle for the join; no Python anywhere."""
    from metacat_spark.llm.text import classifier_score
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from metacat_spark.llm.text import tokens
    w = (docs.select(F.explode(tokens(F.col("text"))).alias("term"))
         .distinct()
         .select("term", (F.length("term") * 0.1).alias("weight")))
    plan = plan_of(classifier_score(docs, w))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "NestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_hashed_doc_vectors_all_jvm(spark):
    """The hashing-trick vectorizer is relational end-to-end: codegen
    xxhash64 buckets, map-side-combinable signed sums, one dense
    assembly — no Python stage anywhere."""
    from metacat_spark.llm.similarity import hashed_doc_vectors
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(hashed_doc_vectors(docs))
    assert "EvalPython" not in plan
    # strict partial-aggregation pin (review r6)
    assert "partial_sum" in plan


def test_curate_v2_python_free(spark):
    """The five-stage curation composition stays relational
    end-to-end — gates, PII regexps, md5 dedup, substring scrub, and
    the n-gram near-dup join are all JVM; no Python stage."""
    from metacat_spark.llm.pipeline import curate_v2
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(curate_v2(docs))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_max_df_cap_no_shingle_window(spark):
    """The stop-shingle max_df cap must be a map-side-combinable
    groupBy(shingle).count() + broadcast anti-join — never a
    per-shingle window, which physically routes EVERY occurrence of
    a hot shingle to one task before the cap can drop it (the
    straggler the cap exists to kill; VERDICT r5). Applies to all
    four capped operators."""
    from metacat_spark.llm.dedup import (
        cross_corpus_containment, cross_corpus_jaccard,
        ngram_containment_pairs, ngram_jaccard_pairs)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    test = docs.where("doc_id % 2 = 0")
    train = docs.where("doc_id % 2 = 1")
    plans = {
        "jaccard": plan_of(ngram_jaccard_pairs(docs, n=2, max_df=50)),
        "cross_jaccard": plan_of(
            cross_corpus_jaccard(test, train, n=2, max_df=50)),
        "cross_containment": plan_of(
            cross_corpus_containment(test, train, n=5, max_df=50)),
        "containment_pairs": plan_of(
            ngram_containment_pairs(docs, n=5, max_df=50)),
    }
    for name, plan in plans.items():
        assert "windowspecdefinition(shingle" not in plan, name
        # the cap's DF aggregate must partial-aggregate map-side
        assert "partial_count" in plan, name
        # and the hot-list prune must be the broadcast anti-join
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, name


def test_cap_per_domain_two_phase_pre_reduce(spark):
    """cap_per_domain must run TWO windows: a salted pre-reduce
    partitioned by (domain, salt) — bounding a mega-domain's worst
    task at |domain|/salts — then the exact per-domain window over
    the <= n x salts survivors (VERDICT r8 #3). With salts=1 the
    pre-reduce must vanish (single-window degenerate plan)."""
    import re
    from metacat_spark.llm.pipeline import cap_per_domain

    def n_window_ops(plan):
        # formatted explain headers: "(8) Window" — NOT the
        # WindowGroupLimit nodes Spark inserts around each one
        return len(re.findall(r"^\(\d+\) Window$", plan,
                              re.MULTILINE))

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(cap_per_domain(docs, n=10))
    assert n_window_ops(plan) == 2, \
        f"expected 2 Window stages:\n{plan}"
    # the pre-reduce partition spec carries the salt expression
    assert "_salt" in plan, plan
    # and Spark's rank-limit pushdown gives each window a map-side
    # Partial WindowGroupLimit (rows cut BEFORE both exchanges)
    assert "row_number(), 10, Partial" in plan, plan
    single = plan_of(cap_per_domain(docs, n=10, pre_reduce_salts=1))
    assert n_window_ops(single) == 1, single


def test_perplexity_buckets_no_global_sort(spark):
    """CCNet bucketing never sorts the corpus: scores are one
    aggregate, thresholds ONE exact-percentile 1-row aggregate
    broadcast back. Exactly three 1-row BroadcastNestedLoopJoins:
    the scoring subtree (carrying the model-totals broadcast) is
    evaluated once under the threshold aggregate and once for the
    final assignment — two scoring passes (CCNet's own shape:
    score, then split) — plus the threshold broadcast itself. No
    Python stage, no range partitioning, no cartesian."""
    import re

    from metacat_spark.llm.text import perplexity_buckets
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(perplexity_buckets(docs))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin",
                          plan)) == 3


def test_text_index_serve_prunes_and_stays_jvm(spark, tmp_path):
    """Serving a query from the stored inverted index must read only
    the query terms' rows (PushedFilters on kind/term reach the
    parquet scan), keep everything JVM-side, and end in a top-k —
    never a global sort of the postings."""
    from metacat_spark.llm.search import (build_text_index,
                                          search_text_index)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "text_idx_plan")
    build_text_index(docs).write.parquet(path)
    plan = plan_of(search_text_index(spark.read.parquet(path),
                                     ["spark", "merge"], k=5))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    pushed = " ".join(ln for ln in plan.splitlines()
                      if "PushedFilters" in ln)
    assert "kind" in pushed and "term" in pushed


def test_text_index_many_one_scan_broadcast_query_table(spark,
                                                        tmp_path):
    """Batched serving (r12): the union of the batch's terms prunes
    the postings scan ONCE (pushed kind/term filters), the bounded
    query/df table broadcasts onto it, and everything stays JVM-side
    with no cartesian — one corpus-sized input for the whole batch."""
    from metacat_spark.llm.search import (build_text_index,
                                          search_text_index_many)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "text_idx_many_plan")
    build_text_index(docs).write.parquet(path)
    plan = plan_of(search_text_index_many(
        spark.read.parquet(path),
        {"a": ["spark", "merge"], "b": ["window"]}, k=5))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    pushed = " ".join(ln for ln in plan.splitlines()
                      if "PushedFilters" in ln)
    assert "kind" in pushed and "term" in pushed


def test_upsert_vectors_broadcast_only(spark):
    """upsert_vectors (r13) never shuffles the postings: the
    incoming id set is the broadcast side of the one anti-join; the
    encode side is a single Arrow stage over the batch."""
    from metacat_spark.llm.similarity import (build_ivfpq_index,
                                              encode_ivfpq,
                                              upsert_vectors)
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = build_ivfpq_index(embs, n_lists=8, m=8, n_codes=16,
                            train_iters=1)
    post = encode_ivfpq(embs, idx)
    plan = plan_of(upsert_vectors(post, embs.limit(5), idx))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_text_index_upsert_broadcast_only(spark):
    """upsert_text_index's joins against the stored postings keep
    the bounded incoming id set on the broadcast side — nothing
    corpus-sized shuffles on the per-id half of the plan (the
    df-delta merge is a term-keyed aggregate of the bounded hit
    set). The kind='doc' marker handling (r13) must not introduce a
    corpus shuffle either."""
    from metacat_spark.llm.search import (build_text_index,
                                          upsert_text_index)
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    idx = build_text_index(docs)
    up = upsert_text_index(idx, docs.limit(5))
    plan = plan_of(up.where(F.col("kind").isin("post", "doc")))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the per-id half (postings + markers vs the id set) is
    # broadcast-joined; no sort-merge of the postings against the
    # batch
    assert "SortMergeJoin" not in plan


def test_search_long_query_no_pivot_columns(spark):
    """The MAX_PIVOT_TERMS guard (r13): a 100-term query's plan
    stages NO per-term pivot columns and exactly one postings scan
    with a pushed-down term filter."""
    from metacat_spark.llm import search as S
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    idx = S.build_text_index(docs)
    terms = ["spark", "window"] + [f"zz{i}" for i in range(98)]
    plan = plan_of(S.search_text_index(idx, terms, k=5))
    assert "zz7_tf" not in plan and "zz7_dl" not in plan
    assert "CartesianProduct" not in plan


def test_cluster_balanced_sample_one_arrow_stage(spark):
    """cluster_balanced_sample (r13) assigns in exactly ONE Arrow
    stage (the encode_ivfpq posture — a JVM zip_with/aggregate
    formulation measured ~16 ms/row interpreted, review r13b); no
    row-at-a-time Python, no cartesian, and the centroid side never
    joins (it rides the closure)."""
    from metacat_spark.llm.similarity import (build_ivf_centroids,
                                              cluster_balanced_sample)
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = build_ivf_centroids(embs, n_lists=4, train_iters=0)
    plan = plan_of(cluster_balanced_sample(embs, per_cluster=5,
                                           centroids=cents))
    # formatted plans print each node in the tree AND the detail
    # section — count detail headers "(N) MapInPandas"
    assert plan.count(") MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_cluster_lifecycle_shares_one_arrow_stage(spark):
    """The r14 lifecycle verbs assign through the SAME single-Arrow
    kernel as the sampler (assign_clusters): the gauge's corpus pass
    is one MapInPandas + one bounded aggregate, no join (the
    artifact rides the closure), no cartesian, no row-at-a-time
    Python."""
    from metacat_spark.llm.similarity import (assign_clusters,
                                              build_ivf_centroids)
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = build_ivf_centroids(embs, n_lists=4, train_iters=0)
    plan = plan_of(assign_clusters(embs, cents, keep_invalid=True)
                   .groupBy("cluster_id").count())
    assert plan.count(") MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_ngram_novelty_no_pair_explosion(spark):
    """ngram_novelty (r14) is a linear semi-join on hashed-shingle
    longs — no cartesian, no (doc, ref-doc) pair space, no
    row-at-a-time Python; the reference collapses to one distinct
    set before the join."""
    from metacat_spark.llm.dedup import ngram_novelty
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    ref = docs.where("doc_id % 3 = 0")
    plan = plan_of(ngram_novelty(docs, ref, n=5))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "LeftSemi" in plan


def test_prep_spread_is_size_adaptive(spark):
    """r15: _prep (shared entry of every vector operator) sizes its
    spread from the input bytes — a sub-_VEC_TASK_BYTES table makes
    ONE Arrow task (each partition becomes a Python task with a
    fixed ~quarter-second round-trip), a table past the cap plans
    exactly as before (defaultParallelism), and adaptive=False keeps
    the full spread for the row-level interpreted reference path.

    The input must be storage-backed: a createDataFrame LocalRelation
    carries the Long.MaxValue unknown-size stats sentinel, and _prep
    deliberately keeps the FULL spread when the size is unknown (an
    unknown corpus must never funnel into one task)."""
    from metacat_spark.llm import similarity as SIM
    small = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    par = spark.sparkContext.defaultParallelism
    unknown = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>")
    assert SIM._prep(unknown, "embedding", "vec_id") \
        .rdd.getNumPartitions() == par
    assert SIM._prep(small, "embedding", "vec_id") \
        .rdd.getNumPartitions() == 1
    assert SIM._prep(small, "embedding", "vec_id", adaptive=False) \
        .rdd.getNumPartitions() == par
    old = SIM._VEC_TASK_BYTES
    try:
        # force every row past the per-task byte budget: the spread
        # must saturate at defaultParallelism, never beyond the cap
        SIM._VEC_TASK_BYTES = 1
        assert SIM._prep(small, "embedding", "vec_id") \
            .rdd.getNumPartitions() == par
    finally:
        SIM._VEC_TASK_BYTES = old


def test_index_artifacts_are_single_partition(spark):
    """r15: the bounded IVF / IVF-PQ index artifacts (≤ n_lists +
    m·n_codes + dim rows) coalesce to ONE partition, so a parquet
    round-trip yields a 1-file, 1-task scan on every serve instead
    of defaultParallelism near-empty files."""
    from metacat_spark.llm.similarity import (build_ivf_centroids,
                                              build_ivfpq_index)
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = build_ivf_centroids(embs, n_lists=4, train_iters=0)
    assert cents.rdd.getNumPartitions() == 1
    idx = build_ivfpq_index(embs, n_lists=4, m=2, n_codes=8,
                            train_iters=1)
    assert idx.rdd.getNumPartitions() == 1


def test_plan_size_probe_returns_finite(spark):
    """r16 (VERDICT r15 #8): the optimizer-stats size probe behind
    every adaptive spread (_prep, util.spread, the ivf_pq_search
    fuse gate) reads a PRIVATE PySpark API. Pin it: a parquet-backed
    frame must yield a finite positive size, so a PySpark bump that
    breaks the probe fails HERE loudly instead of silently reverting
    every operator to the full fan-out; an unknown-stats local frame
    must yield None (the keep-the-full-spread sentinel)."""
    from metacat_spark.llm.util import plan_size_bytes
    small = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    est = plan_size_bytes(small)
    assert est is not None and 0 < est < (1 << 62)
    unknown = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    assert plan_size_bytes(unknown) is None


def test_spread_is_bytes_adaptive(spark, tmp_path):
    """r16 (VERDICT r15 #5): util.spread derives its fan-out from
    input bytes with a floor of 2 — a trivially small storage-backed
    table stops paying defaultParallelism task round-trips, a real
    corpus still saturates the cores, an unknown-size local frame
    keeps the full spread, and an already-well-partitioned input is
    never reshuffled."""
    from metacat_spark.llm.util import _TEXT_TASK_BYTES, spread
    par = spark.sparkContext.defaultParallelism
    spark.range(10).selectExpr("id", "repeat('x', 10) as text") \
        .coalesce(1).write.parquet(str(tmp_path / "tiny"))
    tiny = spark.read.parquet(str(tmp_path / "tiny"))
    assert spread(tiny).rdd.getNumPartitions() == min(2, par)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    import math
    from metacat_spark.llm.util import plan_size_bytes
    want = min(par, max(2, math.ceil(
        plan_size_bytes(docs) / _TEXT_TASK_BYTES)))
    assert spread(docs).rdd.getNumPartitions() == want
    local = spark.createDataFrame([(i, "x") for i in range(5)],
                                  "id long, text string")
    assert spread(local).rdd.getNumPartitions() == par
    wide = spark.range(0, 10, 1, par)  # already par partitions
    assert spread(wide).rdd.getNumPartitions() == par


def test_ivfpq_search_fused_single_python_stage(spark, tmp_path):
    """r16 (VERDICT r15 #1): the fused ivf_pq_search serve shape —
    queries replicated to every list by a JVM explode, assignment
    running inside the scoring task — must (a) contain NO separate
    Python assignment stage (no MapInPandas; exactly one
    FlatMapGroupsInPandas), (b) auto-engage for a parquet-backed
    serve-sized query frame, and (c) return rows identical to the
    two-stage shape, rerank on and off."""
    from metacat_spark.llm import similarity as SIM
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = SIM.build_ivfpq_index(embs, n_lists=8, m=2, n_codes=8,
                                train_iters=1).localCheckpoint()
    posts = SIM.encode_ivfpq(embs, idx).localCheckpoint()
    # (b) auto gate: parquet-backed bounded frame → fused plan
    auto = SIM.ivf_pq_search(embs, posts, idx, k=3, n_probe=3)
    plan = plan_of(auto)
    assert "MapInPandas" not in plan
    # formatted explain prints each operator twice (tree + details):
    # exactly ONE FlatMapGroupsInPandas operator = two mentions
    import re
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas",
                          plan)) == 1
    # (a)+(c) forced fused vs forced two-stage, row-for-row
    for rerank in (True, False):
        two = SIM.ivf_pq_search(embs, posts, idx, k=3, n_probe=3,
                                rerank=rerank, bounded_queries=False)
        assert "MapInPandas" in plan_of(two)
        fused = SIM.ivf_pq_search(embs, posts, idx, k=3, n_probe=3,
                                  rerank=rerank, bounded_queries=True)
        assert sorted(map(tuple, fused.collect())) == \
            sorted(map(tuple, two.collect()))


def test_minhash_signature_shares_distinct_exchange(spark):
    """r16 (VERDICT r15 #4, guide §2.4): minhash's hashed-shingle
    distinct and the per-document signature aggregation share ONE
    id-keyed exchange — partition_by_id hash-partitions by id before
    the distinct, and HashPartitioning(id) satisfies both the
    (id,h64) dedup and the groupBy(id) distributions, so Catalyst
    stacks the aggregates with no exchange between. Exactly one
    hashpartitioning exchange in the whole signature plan."""
    import re
    from metacat_spark.llm import dedup as DD
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    shr = DD.hashed_shingle_rows(docs, 2, "text", "doc_id",
                                 partition_by_id=True)
    sig = shr.groupBy("id").agg(F.count("*").alias("n_sh"))
    plan = plan_of(sig)
    # formatted explain splits operator and Arguments across lines:
    # count Exchange operators in the details section, and
    # hashpartitioning mentions anywhere — exactly one id-keyed
    # exchange besides the _spread round-robin
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert plan.count("hashpartitioning") == 1
