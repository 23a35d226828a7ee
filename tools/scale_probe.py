#!/usr/bin/env python3
"""Scale-trend probe: replicate the sf0.1 tables N× IN-PLAN (no disk
writes) and time representative operators at each multiple. Linear (or
better) growth is the evidence that the partition/shuffle strategy
holds as data grows; a super-linear jump flags an operator whose plan
degrades. Run: python tools/scale_probe.py [multiples...]

Replication remaps ids with a replica suffix so uniqueness (and the
set-algebra fast path) is preserved — each replica is a disjoint shard
of a bigger catalog, which is exactly how growth looks in production.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from metacat_spark.catalog import from_tpch
from metacat_spark.engine import Engine
from metacat_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _replicate(df: DataFrame, n: int, id_cols: list[str]) -> DataFrame:
    if n == 1:
        return df
    r = F.explode(F.sequence(F.lit(1), F.lit(n))).alias("__r")
    out = df.select("*", r)
    for c in id_cols:
        out = out.withColumn(c, F.concat_ws("#", F.col(c), F.col("__r")))
    return out.drop("__r")


def build_engine(spark, mult: int) -> Engine:
    cat = from_tpch(spark, SF_DIR)
    cat.publish(
        files=_replicate(cat.files, mult, ["id"]),
        files_datasets=_replicate(cat.files_datasets, mult, ["file_id"]),
        parent_child=_replicate(cat.parent_child, mult,
                                ["parent_id", "child_id"]))
    return Engine(cat)


def _replicate_events(spark, n: int):
    from metacat_spark.streaming.events import load_events
    ev = load_events(spark, SF_DIR)
    if n == 1:
        return ev
    r = F.explode(F.sequence(F.lit(1), F.lit(n))).alias("__r")
    return (ev.select("*", r)
            .withColumn("user_id",
                        F.col("user_id") * 100000 + F.col("__r"))
            .drop("__r"))


def probe(spark, mult: int) -> dict:
    eng = build_engine(spark, mult)
    docs = _replicate(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"),
        mult, ["doc_id"])

    from metacat_spark.llm import dedup as DD

    cases = {
        "predicate_scan": lambda: eng.query(
            "files where core.run > 250 and core.x <= 0.5").count(),
        "membership_join": lambda: eng.query(
            "files from dune:urgent_0").count(),
        "set_algebra": lambda: eng.query(
            "union(files from dune:urgent_0, files from dune:urgent_1)"
            " - files from mc:flag_r where core.good = true").count(),
        "provenance": lambda: eng.query(
            "parents(files from test:all where core.run in 10:50)"
        ).count(),
        # NOTE: replicas are byte-identical twins, so minhash's
        # verified-pair OUTPUT grows quadratically in the multiple by
        # construction — read its wall against the output size, not
        # against the super-linear=regression rule (same caveat as
        # cross_corpus_lsh below; review r6)
        "minhash_lsh": lambda: DD.minhash_lsh_pairs(
            docs, n=2, k=32, bands=8, threshold=0.5).count(),
        # replicas are exact duplicates, so the hash split plants a
        # twin of ~every doc on the other side: contamination output
        # grows ~quadratically while the banded join must stay tame
        "cross_corpus_lsh": lambda: DD.cross_corpus_lsh(
            docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0),
            docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1),
            n=2, threshold=0.5).count(),
        "pack_sequences": lambda: __import__(
            "metacat_spark.llm.packing",
            fromlist=["pack_sequences"]).pack_sequences(
            docs, max_tokens=512, group_chunks=4096).count(),
        # replicas multiply every gram's corpus count, so dup volume
        # grows with the data while the shape stays one groupBy +
        # semi-join + per-doc windows: the probe checks wall stays
        # near-linear even as ~all grams turn duplicated
        "substring_spans": lambda: DD.duplicate_spans(
            docs, n=8, min_count=2).count(),
        # replicas get DISJOINT user populations (numeric remap), so
        # funnel work grows linearly in users with no join blow-up
        "events_funnel": lambda: __import__(
            "metacat_spark.streaming.events",
            fromlist=["funnel"]).funnel(
            _replicate_events(spark, mult),
            ["view", "click", "purchase"], horizon_s=86400).count(),
    }
    out = {}
    for name, fn in cases.items():
        t = time.time()
        rows = fn()
        out[name] = {"sec": round(time.time() - t, 3), "rows": rows}
        print(f"#   {mult}x {name}: {out[name]['sec']}s "
              f"({rows} rows)", file=sys.stderr)
    return out


def main():
    mults = [int(a) for a in sys.argv[1:]] or [1, 2, 4, 8]
    spark = get_spark("scale_probe")
    # one warm pass so 1x doesn't carry JVM/codegen startup
    probe(spark, 1)
    results = {}
    for m in mults:
        spark.sparkContext._jvm.System.gc()
        results[str(m)] = probe(spark, m)
    print(json.dumps({"sf_dir": SF_DIR, "multiples": results}))
    spark.stop()


if __name__ == "__main__":
    main()
