#!/usr/bin/env python3
"""Regenerate docs/PLANS.md: formatted physical plans for the headline
queries over the bucketed warehouse tables, with the properties each
plan is expected to exhibit. Run: python tools/dump_plans.py

``python tools/dump_plans.py --served OUT_DIR TAG`` instead writes the
Spark SQL each served read class compiles to (the perfbench read_mix
request shapes, built as the server builds them) and its executed plan
over a ``from_tpch`` catalog to ``OUT_DIR/<class>_<TAG>.txt``; run it
in two checkouts to compare their plans (``SPARK_GRAFT_SF_DIR`` picks
the testdata, as for the full dump)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from metacat_spark.catalog import from_materialized
from metacat_spark.engine import Engine
from metacat_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

CASES = [
    ("Shredded predicate pushdown",
     "files where core.run > 250 and core.data_type = mc",
     "PushedFilters reach the parquet scan on the shredded columns; "
     "no JSON parsing anywhere in the plan."),
    ("Membership semi-join (bucketed, shuffle-free)",
     "files from dune:urgent_0",
     "files and files_datasets are bucketed on the join key: no "
     "Exchange below the join — SortMergeJoin LeftSemi reads bucketed "
     "scans directly."),
    ("Set algebra (id-set fast path)",
     "union(files from dune:urgent_0, files from dune:urgent_1) "
     "- files from mc:flag_r",
     "Membership-only branches read ONLY the membership table; the id "
     "sets union/anti-join on narrow keys; ONE final full-width files "
     "scan semi-joins the result (retired filter applied there). The "
     "multiplicity-exact row-level fallback engages on dup-id "
     "catalogs."),
    ("Provenance hop",
     "parents(files from test:all where core.run in 10:50)",
     "Two semi-joins; the argument set never materializes wide rows."),
    ("Top-k without global sort",
     "files from test:all ordered limit 100",
     "TakeOrderedAndProject — a top-k, not a full Sort."),
    ("Pagination",
     "files from test:all skip 1000 limit 500",
     "GlobalLimit with offset above a sort; the only inherently "
     "global operator in the language (same in the reference)."),
]


# the read_mix request classes: (class, MQL, query options); "file" is
# the client's point lookup, not an MQL query. {D}/{D2}/{D3} are
# datasets, {fids} three file ids, {after} a page cursor.
SERVED_CASES = [
    ("file", None, {}),
    ("fids", "fids {fids}", {}),
    ("pred", "files from {D} where core.run > 100 limit 10", {}),
    ("page", "files from {D}", {"after_id": "{after}", "page_size": 100}),
    ("count", "files from {D} where core.run > 100", {"summary": "count"}),
    ("parents", "parents(files from {D} where core.run in 100:140)", {}),
    ("setop", "union(files from {D}, files from {D2}) - files from {D3}",
     {}),
]


def served_plans(out_dir: str, tag: str) -> None:
    from metacat_spark.catalog import from_tpch
    from metacat_spark.client import _RECORD_COLUMNS

    spark = get_spark("plan_dump")
    cat = from_tpch(spark, SF_DIR)
    eng = Engine(cat)
    ids = [r["id"] for r in
           eng.query("files from dune:urgent_0 ordered").collect()]
    names = {"D": "dune:urgent_0", "D2": "dune:urgent_1",
             "D3": "mc:flag_r", "fids": ", ".join(ids[1:4]),
             "after": ids[len(ids) // 2]}
    os.makedirs(out_dir, exist_ok=True)
    for cls, mql, opts in SERVED_CASES:
        if mql is None:
            sql = "(a point lookup on the files table, not an MQL query)"
            df = (cat.files.where(F.col("id") == ids[0])
                  .select(*_RECORD_COLUMNS, "metadata"))
        else:
            opts = {k: v.format(**names) if isinstance(v, str) else v
                    for k, v in opts.items()}
            text = mql.format(**names)
            sql = eng.explain(text, **opts).split("-- Spark SQL --\n")[1] \
                .split("\n\n-- Spark plan --")[0]
            df = eng.query(text, **opts)
        df.collect()        # the executed (final adaptive) plan
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{cls}_{tag}.txt"), "w") as f:
            f.write(f"-- Spark SQL --\n{sql}\n\n-- Spark plan --\n"
                    f"{plan.strip()}\n")
    print(f"wrote {len(SERVED_CASES)} plans to {out_dir}")
    spark.stop()


def main():
    spark = get_spark("plan_dump")
    eng = Engine(from_materialized(spark, SF_DIR))
    out = ["# Physical-plan inventory",
           "",
           "Generated by `tools/dump_plans.py` against the bucketed "
           "warehouse tables at sf0.1. These are the plans the "
           "engine is DESIGNED to produce — asserted in "
           "`tests/test_plan_quality.py`.",
           ""]
    def emit(title, desc, expect, df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        out.extend([f"## {title}", "", desc, "",
                    f"Expectation: {expect}", "", "```", plan.strip(),
                    "```", ""])

    for title, mql, expect in CASES:
        emit(title, f"MQL: `{mql}`", expect, eng.query(mql))

    from metacat_spark.llm.similarity import ivf_topk, lsh_bucketed_topk
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emit("ANN: IVF top-k",
         "`ivf_topk(embeddings, k=3, n_lists=8, n_probe=2)`",
         "Arrow mapInPandas centroid matmul + per-list bipartite GEMM "
         "(FlatMapGroupsInPandas) — no interpreted aggregate/zip_with "
         "dots, no BatchEvalPython.",
         ivf_topk(embs, k=3, n_lists=8, n_probe=2))
    emit("ANN: multi-table LSH top-k",
         "`lsh_bucketed_topk(embeddings, k=3, n_tables=8, "
         "planes_per_table=4)`",
         "One signature matmul per vector (mapInPandas), JVM-side "
         "posexplode band replication, hot-bucket sub-split window, "
         "per-bucket GEMM with local top-k, one id-clustered exchange "
         "for dedup + rank.",
         lsh_bucketed_topk(embs, k=3, n_tables=8, planes_per_table=4))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from metacat_spark.llm.dedup import cross_corpus_lsh
    from metacat_spark.llm.packing import pack_sequences
    from metacat_spark.llm.pipeline import repetition_scores
    emit("Cross-corpus contamination (banded LSH)",
         "`cross_corpus_lsh(test, train, n=2, threshold=0.5)` over "
         "the doc_id-parity split",
         "Candidate join is a key-equi join on (band, sig) restricted "
         "to test×train — no cartesian/nested-loop, no Python stage; "
         "verification joins are candidate-restricted.",
         cross_corpus_lsh(docs.where("doc_id % 2 = 0"),
                          docs.where("doc_id % 2 = 1"),
                          n=2, threshold=0.5))
    emit("Sequence packing",
         "`pack_sequences(documents, max_tokens=512, group_docs=200)`",
         "Relational chunk explode; exactly ONE grouped-Pandas stage "
         "(per-group FFD over narrow (id, n_tok) rows) — text never "
         "crosses into Python.",
         pack_sequences(docs, max_tokens=512, group_docs=200))
    emit("Repetition quality signals",
         "`repetition_scores(documents, n=2)`",
         "Occurrence-shingle groupBys with map-side combine — pure "
         "JVM relational aggregation, zero Python stages.",
         repetition_scores(docs, n=2))
    from metacat_spark.llm.dedup import duplicate_spans
    from metacat_spark.llm.similarity import hashed_doc_vectors
    from metacat_spark.llm.text import classifier_score, tokens
    emit("Exact-substring span dedup (duplicate_spans, n=8)",
         "`duplicate_spans(documents, n=8, min_count=2)`",
         "Positional grams from the shuffle-free sequence-explode + "
         "array-index assembly (no per-document sort window since "
         "r6); duplicated grams via groupBy(gram) with map-side "
         "combine + left-semi join; islands window partitions by "
         "doc only. No pairwise joins, no Python stages.",
         duplicate_spans(docs, n=8, min_count=2))
    vocab = (docs.select(F.explode(tokens(F.col("text")))
                         .alias("term")).distinct()
             .select("term",
                     (((F.length("term") % 7) - 3) / 3.0)
                     .alias("weight")))
    emit("classifier_score (broadcast vocabulary weights)",
         "`classifier_score(documents, vocab)`",
         "Token explode + a BROADCAST hash join against the tiny "
         "vocabulary-weight table, one groupBy(doc) mean, sigmoid "
         "projection — all JVM codegen.",
         classifier_score(docs, vocab, bias=0.25))
    emit("hashed_doc_vectors (hashing trick)",
         "`hashed_doc_vectors(documents)`",
         "xxhash64 bucket + sign hash in codegen, two narrow "
         "groupBys (doc×bucket then doc), zero Python stages — "
         "model-free embeddings for the vector stack.",
         hashed_doc_vectors(docs))
    from metacat_spark.llm.dedup import drop_common_lines
    from metacat_spark.llm.text import chunk_tokens, normalize_text
    emit("Unicode normalization (normalize_text)",
         "`normalize_text(documents)`",
         "ONE ArrowEvalPython stage (the NFC udf, evaluated once — "
         "see the single run(...) in its Arguments), then codegen "
         "regexp_replace/length accounting. No Exchange.",
         normalize_text(docs))
    emit("Token-window chunking (chunk_tokens)",
         "`chunk_tokens(documents, size=128)`",
         "Narrow explode over chunk indices + slice/concat_ws "
         "assembly — zero Exchange, zero Python, no window sort.",
         chunk_tokens(docs, size=128))
    emit("Boilerplate line dedup (drop_common_lines)",
         "`drop_common_lines(documents, min_df=2)`",
         "Line identity crosses shuffles as xxhash64 longs; "
         "doc-frequency via dropDuplicates+groupBy (map-side "
         "combinable); left-anti on the hash; touched-only rebuild. "
         "No Python stages, no cartesian.",
         drop_common_lines(docs, min_df=2))
    from metacat_spark.llm.pipeline import cap_per_domain
    from metacat_spark.llm.text import moore_lewis_scores
    emit("Moore-Lewis selection (moore_lewis_scores)",
         "`moore_lewis_scores(raw=src!=src0, target=src0)`",
         "Two vocabulary-bounded tf aggregates; raw occurrences LEFT "
         "join the target tf (unseen terms null→smoothed); totals are "
         "broadcast 1-row aggregates; one per-doc aggregate. Zero "
         "Python stages.",
         moore_lewis_scores(docs.where("source <> 'src0'"),
                            docs.where("source = 'src0'")))
    emit("Per-domain cap (cap_per_domain)",
         "`cap_per_domain(documents, n=30)`",
         "Two-phase (r9): a salted (domain, hash%salts) pre-reduce "
         "window keeps ≤ n rows per salt bucket — bounding the worst "
         "task at |domain|/salts for a mega-domain — then the exact "
         "per-domain window runs on ≤ n×salts rows per domain. Both "
         "windows get Spark's map-side Partial WindowGroupLimit "
         "(rank-limit pushdown); never a single-partition global "
         "window.",
         cap_per_domain(docs, n=30))
    from metacat_spark.llm.search import hybrid_rrf, search_bm25
    from metacat_spark.llm.text import dsir_logweights
    from metacat_spark.llm.train import score_logreg_hashed
    emit("BM25 keyword search (search_bm25)",
         "`search_bm25(documents, ['spark','window','merge'], k=10)`",
         "ONE corpus scan computes the per-term tfs as array filters "
         "(no explode); corpus stats are a 1-row aggregate joined "
         "back by BroadcastNestedLoopJoin; the top-k is "
         "TakeOrderedAndProject, never a global Sort; the rank "
         "window runs over the k collected rows only.",
         search_bm25(docs, ["spark", "window", "merge"], k=10))
    emit("Hybrid RRF retrieval (hybrid_rrf)",
         "`hybrid_rrf(documents, embeddings, query, vec_id=0, n=20)`",
         "Each ranker ends in its own TakeOrdered top-n; the fusion "
         "full-outer join and the final rank run over two ≤ n-row "
         "lists. The corpus is scanned once per ranker and never "
         "shuffled wide.",
         hybrid_rrf(docs, spark.read.parquet(
             f"{SF_DIR}/embeddings.parquet"),
             ["spark", "window", "merge"], query_vec_id=0, n=20))
    emit("DSIR importance weights (dsir_logweights)",
         "`dsir_logweights(raw=src!=src0, target=src0, buckets=256)`",
         "Hashed-bigram features; BOTH model-count tables are "
         "bucket-bounded and BROADCAST (BroadcastHashJoin ×2) — "
         "unlike Moore-Lewis there is no vocabulary-sized shuffle; "
         "totals are broadcast 1-row aggregates; one per-doc "
         "aggregate.",
         dsir_logweights(docs.where("source <> 'src0'"),
                         docs.where("source = 'src0'"),
                         buckets=256))
    wts = spark.createDataFrame(
        [(0, 0.5), (256, -0.1)], "f long, weight double")
    emit("Classifier scoring with a trained model "
         "(score_logreg_hashed)",
         "`score_logreg_hashed(documents, weights, buckets=256)` — "
         "the same plan shape as each GD training step's margin pass",
         "Length-normalized hashed tf rows (two narrow groupBys), "
         "BROADCAST weight join, one per-doc aggregate, sigmoid "
         "projection. Training repeats this plus one bucket-bounded "
         "gradient reduce per step.",
         score_logreg_hashed(docs, wts, buckets=256))
    # --- r10/r11 operators ---
    from metacat_spark.llm.dedup import duplicate_char_spans
    emit("Exact-substring span dedup at CHAR granularity "
         "(duplicate_char_spans, k=30)",
         "`duplicate_char_spans(documents, k=30, min_count=2)`",
         "Stride-1 char k-gram rows from a sequence explode + "
         "substring (all codegen, linear in corpus chars); "
         "duplicated grams via groupBy(gram) with map-side "
         "partial_count + left-semi back; islands window keyed by "
         "doc. No Python stages, no pairwise joins. The "
         "hash_grams=True variant swaps the k-char shuffle key for "
         "xxhash64(gram) computed in the scan stage (same plan "
         "shape, ~6x narrower exchange at k=50).",
         duplicate_char_spans(docs, k=30, min_count=2))
    emit("duplicate_char_spans with hashed gram keys "
         "(hash_grams=True)",
         "`duplicate_char_spans(documents, k=30, min_count=2, "
         "hash_grams=True)`",
         "Identical shape; the count/semi-join key is an 8-byte "
         "xxhash64 long (visible in the HashAggregate keys), so "
         "both exchanges move fixed-width longs instead of k-char "
         "strings.",
         duplicate_char_spans(docs, k=30, min_count=2,
                              hash_grams=True))
    from metacat_spark.llm.similarity import (build_ivfpq_index,
                                              compact_postings,
                                              encode_ivfpq,
                                              ivf_pq_search,
                                              ivf_pq_topk,
                                              retire_vectors)
    pq_idx = build_ivfpq_index(embs, n_lists=16, m=8, n_codes=16,
                               train_iters=1)
    postings = encode_ivfpq(embs, pq_idx)
    emit("IVF-PQ incremental add (encode_ivfpq)",
         "`encode_ivfpq(embeddings, index)` — postings rows to "
         "parquet-append onto the served table",
         "ONE Arrow mapInPandas pass (assign-to-centroid + "
         "PQ-encode, the index rides the closure) over the spread "
         "scan — row-local, so encode(A) ∪ encode(B) ≡ "
         "encode(A ∪ B) and the append IS the add. No shuffle, no "
         "driver collect.",
         postings)
    emit("IVF-PQ serve-from-postings (ivf_pq_search)",
         "`ivf_pq_search(queries, postings, index, k=3, n_probe=2)`",
         "Queries assigned to n_probe lists in one Arrow pass; "
         "tombstoned members excluded by a BROADCAST anti-join "
         "(empty on a clean table); members meet queries in a "
         "per-list FlatMapGroupsInPandas ADC + rerank; final rank "
         "is a per-query window. The corpus-sized work is the "
         "postings scan — nothing re-encoded per query batch.",
         ivf_pq_search(embs, postings, pq_idx, k=3, n_probe=2))
    emit("Postings retire (retire_vectors)",
         "`retire_vectors(postings, [ids...])` — tombstone rows to "
         "append (the O(delta) delete)",
         "One postings scan; the id set is BROADCAST into a "
         "left-semi (lst lookup). No corpus shuffle.",
         retire_vectors(postings, [0, 1]))
    emit("Postings compaction (compact_postings)",
         "`compact_postings(postings)` — rewrite dirty lists "
         "without dead rows",
         "Dirty-list set is a bounded per-list aggregate broadcast "
         "back over the scan (semi/anti); tombstone exclusion is "
         "the same broadcast anti-join as serve. No corpus "
         "shuffle; on a lst-partitioned table only dirty "
         "partitions need rewriting.",
         compact_postings(postings))
    from metacat_spark.llm.search import (build_text_index,
                                          search_text_index)
    tixd = os.path.join(os.environ.get("TMPDIR", "/tmp"),
                        "plan_dump_text_idx")
    build_text_index(docs).write.mode("overwrite").parquet(tixd)
    emit("BM25 serve-from-index (search_text_index)",
         "`search_text_index(index, ['spark', 'merge'], k=5)` over "
         "the stored inverted index",
         "The scan prunes to the query terms' postings/df rows "
         "(PushedFilters on kind/term); contributions pivot into "
         "columns and sum in the batch scorer's term order; "
         "broadcast stats; TakeOrderedAndProject — never a global "
         "sort of the postings.",
         search_text_index(spark.read.parquet(tixd),
                           ["spark", "merge"], k=5))
    from metacat_spark.llm.search import search_text_index_many
    emit("BM25 batched serve (search_text_index_many, r12)",
         "`search_text_index_many(index, {'a': [...], 'b': [...]}, "
         "k=5)` — the whole query batch in ONE plan",
         "One pruned postings scan for the UNION of the batch's "
         "terms (pushed kind/term filters), the bounded "
         "(query, term, df) table broadcast onto it "
         "(BroadcastHashJoin), per-(query, doc) contributions "
         "folded in term order, one window partitioned by query id "
         "— measured 5.4x over 16 sequential serves at sf0.1.",
         search_text_index_many(spark.read.parquet(tixd),
                                {"a": ["spark", "merge"],
                                 "b": ["window"]}, k=5))
    from metacat_spark.llm.similarity import ann_recall, topk_gemm
    exact3 = topk_gemm(embs, k=3)
    emit("ANN recall gauge (ann_recall)",
         "`ann_recall(ivf_pq_topk(...), topk_gemm(...))` — the "
         "measure-before-trust verb",
         "One left-semi join on the narrow (id, neighbor_id) keys + "
         "two bounded aggregates into ONE row; the expensive "
         "subtrees are the two searches being compared, not the "
         "gauge.",
         ann_recall(ivf_pq_topk(embs, k=3, n_probe=2,
                                index=pq_idx), exact3))
    from metacat_spark.llm.text import perplexity_buckets
    emit("CCNet perplexity bucketing (perplexity_buckets)",
         "`perplexity_buckets(documents, reference)` — "
         "head/middle/tail split at exact score quantiles",
         "No global sort and no Python stage anywhere: "
         "vocabulary-bounded model counts + broadcast 1-row totals, "
         "one left join, per-doc aggregate, thresholds as ONE "
         "exact-percentile 1-row aggregate broadcast back (3 "
         "one-row BroadcastNestedLoopJoins, no rangepartitioning).",
         perplexity_buckets(docs,
                            docs.where(F.col("source") == "src0")))
    from metacat_spark.llm.search import (_bm25_ref_stats,
                                          _dedupe_terms,
                                          _rowlocal_bm25,
                                          _topk_prereduce)
    from metacat_spark.llm.util import stream_parquet
    sterms = _dedupe_terms(["spark", "window", "merge"])
    sref = _bm25_ref_stats(docs.select(F.col("text").alias("text")),
                           sterms)
    sstream = stream_parquet(spark, f"{SF_DIR}/documents.parquet")
    sscored = (_rowlocal_bm25(sstream, sterms, sref, 1.2, 0.75,
                              "text", "doc_id")
               .where((F.col("score") > 0)
                      & F.col("doc_id").isNotNull()))
    emit("Streaming top-k leaderboard inflow (pre-state plan, "
         "search_stream_topk / hybrid_stream_topk)",
         "`_topk_prereduce(rowlocal_bm25(stream), k)` — the rows "
         "that reach the single-key applyInPandasWithState "
         "leaderboard; the same operator feeds both hybrid-stream "
         "rankers",
         "Row-local scoring is pure per-row expressions over the "
         "streaming relation (reference stats as literals — no "
         "broadcast join, no aggregation state); the stateless "
         "Arrow per-partition top-k caps the state task's inflow "
         "at k rows per partition per batch.",
         _topk_prereduce(sscored, 10, "score", "doc_id"))
    # durable-mode restore plan: journal overlay over the bucketed
    # base. The temp commit log is removed after the plan STRING is
    # captured (emit materializes it; nothing executes later), so doc
    # regens don't accumulate /tmp journals (review r8); the base
    # from_materialized call is the idempotent tableExists-guarded
    # ingest — no rebuild.
    import shutil
    import tempfile

    from metacat_spark.catalog import from_tpch
    from metacat_spark.dml import DML
    from metacat_spark.durable import DurableStore
    droot = tempfile.mkdtemp(prefix="plans_durable")
    try:
        dcat = from_tpch(spark, SF_DIR)
        DML(dcat, store=DurableStore(spark, droot)).declare_files(
            [{"id": "plan-1", "namespace": "dune", "name": "p1.dat",
              "metadata": {"core.run": 1, "core.runs": [1]}}])
        dcat2 = from_materialized(spark, SF_DIR)
        DurableStore(spark, droot).attach(dcat2)
        emit("Durable restore overlay (DurableStore.attach)",
             "bucketed base + one-commit journal, then "
             "`files where core.run > 250`",
             "Base stays the pruned bucketed parquet scan with "
             "PushedFilters; the journal side is one tiny parquet "
             "scan + row_number window; they meet in an anti join + "
             "union — the merge-on-read shape, erased again by admin "
             "compact.",
             Engine(dcat2).query("files where core.run > 250"))
    finally:
        shutil.rmtree(droot, ignore_errors=True)
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs", "PLANS.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:2] == ["--served"]:
        served_plans(*sys.argv[2:4])
    else:
        main()
