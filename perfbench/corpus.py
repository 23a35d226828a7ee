"""The corpus pass: the llm/, streaming/ and filters/ operators called
in-process by one caller, with no HTTP and (except the MQL hash filter)
no MQL planning.

A traced read_mix run makes PASSES passes over seeded documents,
embeddings and events after its HTTP half, each operator in a span
named after its per-layer metric. Outputs are checked against the
package's own DuckDB oracle SQL (``__spark_entry__.oracle_sql``) where
it has an entry for the operator, and pass to pass otherwise.
"""

from __future__ import annotations

import os
import statistics
import time

import datagen
import oracle as OR

PASSES = 2
N_DOCS, N_VECS, N_EVENTS = 300, 300, 3000
BM25_QUERY = ["spark", "window", "merge"]
HASH_QUERY = "filter hash(4, 1)(files from dune:high_0)"
# span name -> the __spark_entry__ oracle of the same output, if any
OPERATORS = {
    "llm.dedup.minhash": None,
    "llm.text.analyze": None,
    "llm.similarity.lsh_topk": None,
    "llm.similarity.gemm_topk": "embed_topk_bruteforce",
    "llm.search.bm25_serve": None,
    "filters.hash": "filter_hash_adler32",
    "streaming.events.window": "events_windowed_agg",
    "streaming.events.sessionize": "events_sessionize",
}


class CorpusPass:
    def __init__(self, spark, root: str, seed: int, client):
        from metacat_spark.llm import search as SR
        from metacat_spark.streaming import events as EV
        datagen.write_corpus(root, seed, N_DOCS, N_VECS, N_EVENTS)
        self.root, self.spark, self.client = root, spark, client
        self.docs = spark.read.parquet(os.path.join(root,
                                                    "documents.parquet"))
        self.embs = spark.read.parquet(os.path.join(root,
                                                    "embeddings.parquet"))
        self.events = EV.load_events(spark, root)
        # the BM25 operator serves from a stored index, built untimed
        index_dir = os.path.join(root, "text_index")
        SR.build_text_index(self.docs).write.parquet(index_dir)
        self.index = spark.read.parquet(index_dir)

    def _ops(self):
        from pyspark.sql import functions as F

        from metacat_spark.llm import dedup as DD
        from metacat_spark.llm import search as SR
        from metacat_spark.llm import similarity as SIM
        from metacat_spark.llm import text as TX
        from metacat_spark.streaming import events as EV
        docs, embs, events = self.docs, self.embs, self.events
        fmt = "yyyy-MM-dd HH:mm:ss"
        return {
            "llm.dedup.minhash": lambda: DD.minhash_lsh_pairs(
                docs, n=2, k=32, bands=8, threshold=0.5).collect(),
            "llm.text.analyze": lambda: TX.analyze(docs).collect(),
            "llm.similarity.lsh_topk": lambda: SIM.lsh_bucketed_topk(
                embs, k=3, n_tables=16, planes_per_table=2).collect(),
            "llm.similarity.gemm_topk": lambda: SIM.topk_gemm(
                embs, k=3).collect(),
            "llm.search.bm25_serve": lambda: SR.search_text_index(
                self.index, BM25_QUERY, k=10).collect(),
            "filters.hash": lambda: [
                (r["id"], r["namespace"], r["name"], r["size"])
                for r in self.client.query(HASH_QUERY)],
            "streaming.events.window": lambda: EV.windowed_counts(events)
            .select(F.date_format("window_start", fmt)
                    .alias("window_start"),
                    "event_type", "n_events", "total_value").collect(),
            "streaming.events.sessionize": lambda: EV.sessionize(events, 30)
            .select("user_id",
                    F.date_format("session_start", fmt + ".SSSSSS")
                    .alias("session_start"),
                    F.col("n_events").cast("long").alias("n_events"))
            .collect(),
        }

    def run(self, tracer) -> tuple[list[float], list[dict]]:
        """(pass wall times, per pass {operator: output rows})."""
        walls, outputs = [], []
        ops = self._ops()
        for p in range(PASSES):
            out = {}
            t = time.perf_counter()
            for name, op in ops.items():
                tracer.set_rid(f"corpus{p}")
                with tracer.span(name):
                    out[name] = [tuple(r) for r in op()]
            walls.append(time.perf_counter() - t)
            outputs.append(out)
        tracer.set_rid("-")
        return walls, outputs

    def check(self, tables_root: str, outputs: list[dict]) -> int:
        """Wrong outputs: per operator and pass, against the oracle or,
        without one, against the first pass. Every operator has rows on
        these inputs, so an empty output is wrong too."""
        import __spark_entry__ as entry
        sql = entry.oracle_sql()
        orc = OR.Oracle(tables_root, corpus_root=self.root)
        wrong = sum(not rows for out in outputs for rows in out.values())
        try:
            for name, key in OPERATORS.items():
                want = orc.rows(sql[key]) if key else outputs[0][name]
                wrong += sum(not OR.same_rows(out[name], want)
                             for out in (outputs if key else outputs[1:]))
        finally:
            orc.close()
        return wrong


def layer_metrics(tracer, walls) -> dict:
    """Median seconds of each operator over the passes, and of a pass."""
    out = {f"{name}_s": statistics.median(
        s.dur for s in tracer.spans if s.name == name)
        for name in OPERATORS}
    out["batch_pass_s"] = statistics.median(walls)
    return out
