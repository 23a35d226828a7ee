"""Per-layer metrics of a traced run, from its spans and from the Spark
status store. A layer a workload does not exercise reports 0."""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from spans import PLAN_SUFFIX, stage_totals

UNITS = {
    "session.start_s": "s", "catalog.materialize_s": "s", "warmup_s": "s",
    "mql.parse_ms": "ms", "engine.plan_ms": "ms",
    "engine.plan_jobs": "count", "exec.collect_ms": "ms",
    "exec.jobs_per_op": "count", "exec.tasks_per_op": "count",
    "exec.failed_tasks": "count", "exec.scan_rows_per_row": "ratio",
    "exec.shuffle_bytes_per_op": "bytes", "client.convert_ms": "ms",
    "server.overhead_ms": "ms", "server.bytes_per_req": "bytes",
    "dml.declare_ms": "ms", "dml.update_ms": "ms",
    "dml.membership_ms": "ms", "dml.jobs_per_write": "count",
    "validation.validate_ms": "ms", "durable.commit_ms": "ms",
    "durable.bytes_per_file": "bytes", "durable.files_per_commit": "count",
    "trace.overhead_pct": "%", "bench.error_ratio": "ratio",
    "loadgen.repeat_share": "ratio",
    # the corpus pass of traced read_mix runs (corpus.py)
    "llm.dedup.minhash_s": "s", "llm.text.analyze_s": "s",
    "llm.similarity.lsh_topk_s": "s", "llm.similarity.gemm_topk_s": "s",
    "llm.search.bm25_serve_s": "s", "filters.hash_s": "s",
    "streaming.events.window_s": "s", "streaming.events.sessionize_s": "s",
    "batch_pass_s": "s",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _dir_bytes(root) -> int:
    if not root:
        return 0
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def layer_metrics(tracer, sc, reads, writes, durable_root=None,
                  durable_files=0, durable_commits=0) -> dict:
    """``reads``/``writes``: the traced run's measured Calls."""
    selft = tracer.self_times()
    by_name, by_rid = defaultdict(list), defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)
        by_rid[s.rid.removesuffix(PLAN_SUFFIX)].append(s)
    names = {s.sid: s.name for s in tracer.spans}

    def total(rid, prefix, self_time=False, top=False):
        return sum(selft[s.sid] if self_time else s.dur
                   for s in by_rid[rid] if s.name.startswith(prefix)
                   and (not top or names.get(s.parent) == "server.request"))

    ok_reads = [c for c in reads if c.ok]
    stages = {c.rid: (stage_totals(sc, c.rid),
                      stage_totals(sc, c.rid + PLAN_SUFFIX))
              for c in ok_reads + [w for w in writes if w.ok]}
    read_st = [stages[c.rid] for c in ok_reads]
    rows = sum(c.rows for c in ok_reads)
    plan_calls = [c for c in ok_reads
                  if any(s.name == "engine.query" for s in by_rid[c.rid])]
    nested_in_declare = {s.sid for s in by_name["dml.add_files_to_dataset"]
                         if names.get(s.parent) == "dml.declare_files"}
    return {
        "mql.parse_ms": 1e3 * _median(s.dur for s in by_name["mql.parse"]),
        "engine.plan_ms": 1e3 * _median(selft[s.sid]
                                        for s in by_name["engine.query"]),
        "engine.plan_jobs": _mean(stages[c.rid][1]["jobs"]
                                  for c in plan_calls),
        "exec.collect_ms": 1e3 * _median(
            total(c.rid, "exec.") for c in ok_reads
            if total(c.rid, "exec.")),
        "exec.jobs_per_op": _mean(a["jobs"] + p["jobs"]
                                  for a, p in read_st),
        "exec.tasks_per_op": _mean(a["tasks"] + p["tasks"]
                                   for a, p in read_st),
        "exec.failed_tasks": float(sum(a["failed_tasks"] + p["failed_tasks"]
                                       for a, p in stages.values())),
        "exec.scan_rows_per_row": (sum(a["input_records"]
                                       + p["input_records"]
                                       for a, p in read_st) / rows
                                   if rows else 0.0),
        "exec.shuffle_bytes_per_op": _mean(a["shuffle_bytes"]
                                           + p["shuffle_bytes"]
                                           for a, p in read_st),
        "client.convert_ms": 1e3 * _median(
            total(c.rid, "client.", self_time=True) for c in ok_reads),
        "server.overhead_ms": 1e3 * _median(
            c.seconds - total(c.rid, "client.", top=True)
            for c in ok_reads),
        "server.bytes_per_req": _mean(c.nbytes for c in ok_reads),
        "dml.declare_ms": 1e3 * _median(
            s.dur for s in by_name["dml.declare_files"]),
        "dml.update_ms": 1e3 * _median(
            s.dur for s in by_name["dml.update_file_metadata"]),
        "dml.membership_ms": 1e3 * _median(
            s.dur for s in by_name["dml.add_files_to_dataset"]
            if s.sid not in nested_in_declare),
        "dml.jobs_per_write": _mean(stages[w.rid][0]["jobs"]
                                    + stages[w.rid][1]["jobs"]
                                    for w in writes if w.ok),
        "validation.validate_ms": 1e3 * _median(
            s.dur for s in by_name["dml.validate"]),
        "durable.commit_ms": 1e3 * _median(
            s.dur for s in by_name["durable.commit"]),
        "durable.bytes_per_file": (_dir_bytes(durable_root) / durable_files
                                   if durable_files else 0.0),
        "durable.files_per_commit": (durable_files / durable_commits
                                     if durable_commits else 0.0),
    }


def install(tracer, spark, handler_cls) -> None:
    """Wrap the package's public calls and the HTTP handler."""
    import metacat_spark.engine as E
    from metacat_spark.client import MetaCatSparkClient
    from metacat_spark.dml import DML
    from metacat_spark.durable import DurableStore

    df_cls = type(spark.range(1))
    tracer.patch(E, "parse", "mql.parse")
    tracer.patch(E.Engine, "query", "engine.query", plan=True)
    tracer.patch(df_cls, "collect", "exec.collect")
    tracer.patch(df_cls, "toLocalIterator", "exec.collect")
    for m in ("query", "query_iter", "get_file", "get_files",
              "declare_files", "update_file_metadata", "retire_file"):
        tracer.patch(MetaCatSparkClient, m, f"client.{m}")
    for m in ("declare_files", "add_files_to_dataset",
              "update_file_metadata", "retire_file", "validate"):
        tracer.patch(DML, m, f"dml.{m}")
    tracer.patch(DurableStore, "commit", "durable.commit")
    tracer.patch_handler(handler_cls)
