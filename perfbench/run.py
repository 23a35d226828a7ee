"""Catalog benchmark: one served-catalog workload per run.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 12 \
        --trace 0

Run from the root of a checkout. The run writes seeded source tables,
starts a Spark session (``SPARK_GRAFT_CPUS`` = the usable CPUs), sets
the served catalog up once (``setup_s`` = session start + that set-up,
the cold path a new process pays), warms it, drives it over HTTP for
``--seconds`` and at least a fixed number of whole blocks of requests
or cycles of writes (then on to the end of the current one) from two
closed-loop client threads, checks every output,
and prints one JSON result as the last line of stdout: the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` the per-layer metrics of
a run whose second half is traced, and the tracing overhead against its
untraced first half. Traced read_mix runs then time the corpus
operators (corpus.py). The line before the result carries sample
counts, set-up and phase times and the host record (nproc, load
average, CPU steal). Exit code 1 means an output check failed; 2 means
the run could not start.

All scratch state lives in ``.perfbench_runs/<run>/`` under the
checkout and is removed at exit; traced runs keep their spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("read_mix", "write_mix")
N_ORDERS = 5_000             # ~20k files
UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "read_p50_gmean_ms": "ms",
         "ops_per_s": "1/s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Spark and its Python workers find the package and keep every
    scratch file under ``run_dir``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEMORY"] = "1g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={env['TMPDIR']} "
        "-XX:-UsePerfData' pyspark-shell")
    # the default warehouse and metastore directories follow the cwd
    os.chdir(run_dir)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args, run_dir: str) -> tuple[dict, dict]:
    import datagen
    import layers
    from metrics import HostRecorder, error_ratio
    from workloads import ReadMix, Service, WriteMix, class_p50_ms

    from metacat_spark.session import get_spark

    t = time.perf_counter()
    src = os.path.join(run_dir, "src")
    tables = datagen.write_tables(src, args.seed, N_ORDERS)
    is_read = args.workload == "read_mix"
    wl = (ReadMix if is_read else WriteMix)(tables, args.seed)
    phases = {"datagen": time.perf_counter() - t}
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    corpus_wrong = 0
    try:
        jvm = spark.sparkContext._gateway.proc.pid
        with HostRecorder([os.getpid(), jvm]) as host:
            svc = Service(spark, src, None if is_read
                          else os.path.join(run_dir, "durable"))
            try:
                t = time.perf_counter()
                wl.warm_up(svc.port)
                phases["warm_up"] = time.perf_counter() - t
                t = time.perf_counter()
                # a traced run splits the window and the minimum in two
                secs, least = args.seconds, wl.MIN_UNITS
                if args.trace:
                    secs, least = secs / 2, max(1, least // 2)
                res = wl.run(svc.port, secs, "m", least)
                if args.trace:
                    traced, tracer = _traced_run(wl, svc, spark, secs,
                                                 least)
                phases["measure"] = time.perf_counter() - t
                t = time.perf_counter()
                calls = res["reads"] + res["writes"]
                if args.trace:
                    calls += traced["reads"] + traced["writes"]
                wrong = wl.check(svc, spark, calls)
                failed = sum(not c.ok for c in calls)
                phases["check"] = time.perf_counter() - t
                attempted = len(calls)
                if args.trace:
                    per_layer = _layers(wl, svc, spark, tracer, res,
                                        traced)
                    per_layer.update({
                        "session.start_s": session_s,
                        "catalog.materialize_s": svc.catalog_s,
                        "warmup_s": phases["warm_up"]})
                    if is_read:
                        t = time.perf_counter()
                        corpus, n, corpus_wrong = _corpus_pass(
                            args, run_dir, spark, svc, tracer)
                        per_layer.update(corpus)
                        attempted += n
                        phases["corpus"] = time.perf_counter() - t
                    per_layer["bench.error_ratio"] = error_ratio(
                        attempted, failed, wrong + corpus_wrong)
                    out_dir = os.path.join(ROOT, ".perfbench_out")
                    os.makedirs(out_dir, exist_ok=True)
                    tracer.write(os.path.join(
                        out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            finally:
                svc.close()
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        phases["stop"] = time.perf_counter() - t

    reads = [c for c in res["reads"] if c.ok]
    if args.trace:
        metrics = {k: {"value": per_layer.get(k, 0.0), "unit": u}
                   for k, u in layers.UNITS.items()}
    else:
        e2e = {"setup_s": session_s + svc.setup_s,
               "peak_rss_mb": host.peak_mb,
               "read_p50_gmean_ms": class_p50_ms(reads),
               "ops_per_s": res["ops_per_s"]}
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    info = {"workload": args.workload, "seed": args.seed,
            "read_samples": len(reads),
            "write_samples": sum(c.ok for c in res["writes"]),
            **_tail(reads),
            "p50_ms_by_kind": _p50_by_kind(
                reads + [c for c in res["writes"] if c.ok]),
            "session_s": round(session_s, 3),
            "service_setup_s": round(svc.setup_s, 3),
            "wrong": wrong + corpus_wrong,
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            **host.record()}
    failed += wrong + corpus_wrong
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, info


def _traced_run(wl, svc, spark, seconds, least):
    """Run the workload again with every layer wrapped in spans."""
    import layers
    from spans import Tracer
    tracer = Tracer(spark.sparkContext)
    layers.install(tracer, spark, svc.server.RequestHandlerClass)
    try:
        return wl.run(svc.port, seconds, "t", least), tracer
    finally:
        tracer.restore()


def _corpus_pass(args, run_dir, spark, svc, tracer):
    """Per-layer metrics of the corpus operators, how many operator
    outputs were checked, and how many were wrong; spans go to the
    same tracer."""
    from corpus import PASSES, CorpusPass, OPERATORS, layer_metrics
    cp = CorpusPass(spark, os.path.join(run_dir, "corpus"), args.seed,
                    svc.client)
    walls, outputs = cp.run(tracer)
    wrong = cp.check(os.path.join(run_dir, "src"), outputs)
    return layer_metrics(tracer, walls), PASSES * len(OPERATORS), wrong


def _layers(wl, svc, spark, tracer, untraced, traced) -> dict:
    """Per-layer metrics of the traced half and the tracing overhead
    against the untraced half."""
    import layers
    import loadgen
    from workloads import class_p50_ms
    files = commits = 0
    if svc.durable_root:
        from metacat_spark.durable import open_store
        files = sum(len(b.declared) for b in wl.state.batches) + sum(
            op.kind in ("update", "retire") for op in wl.ops[:wl.next_op])
        commits = len(open_store(spark, svc.durable_root).history())
    out = layers.layer_metrics(tracer, spark.sparkContext, traced["reads"],
                               traced["writes"], svc.durable_root, files,
                               commits)
    ok_t = [c for c in traced["reads"] if c.ok]
    ok_u = [c for c in untraced["reads"] if c.ok]
    out["trace.overhead_pct"] = 100.0 * (class_p50_ms(ok_t)
                                         / class_p50_ms(ok_u) - 1)
    # the untraced window's requests alone: the traced window continues
    # the same list, and counting both would mix two windows
    out["loadgen.repeat_share"] = loadgen.repeat_share(
        untraced.get("requests", []))
    return out


def _p50_by_kind(calls) -> dict:
    from workloads import median_ms
    return {k: round(median_ms([c for c in calls if c.kind == k]), 1)
            for k in sorted({c.kind for c in calls})}


def _tail(calls) -> dict:
    """The highest read percentile with ten samples beyond it, for the
    record: too few samples reach it in one run to gate on it."""
    from metrics import highest_tail, percentile
    p = highest_tail(len(calls))
    if p is None:
        return {"read_tail": None}
    return {"read_tail": {"percentile": p, "ms": round(1e3 * percentile(
        [c.seconds for c in calls], p), 3)}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "metacat_spark",
                                       "__init__.py")):
        print(f"perfbench: no metacat_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    cwd = os.getcwd()
    prepare_env(run_dir)
    try:
        result, info = run(args, run_dir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    print("info: " + json.dumps(info))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
