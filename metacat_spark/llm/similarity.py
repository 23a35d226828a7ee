"""Similarity search over embedding columns (array<float>).

- cosine / dot products via zip_with + aggregate: JVM-side, vectorizes
  under whole-stage codegen — no Python in the loop.
- brute_force_topk: the exactness baseline. Blocked cross join; cost
  O(N·M·dim) flops distributed over partitions.
- cosine_pairs: near-duplicate pairs above a threshold.
- lsh_topk: random-hyperplane LSH bucketing as the scale path —
  candidates only within matching sign-prefixes; deterministic planes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import plan_size_bytes as _plan_size_bytes
from .util import stream_parquet

# source bytes per Arrow-stage task (see _prep): ~4 MB ≈ thousands of
# vectors per task, far past the per-task Python overhead break-even
_VEC_TASK_BYTES = 4 << 20

# ivf_pq_search fused-path budget (r16): total bytes of query rows
# AFTER replication to every list (est × n_lists) that we are willing
# to shuffle in exchange for deleting the separate Python assignment
# stage. A Python stage costs ~0.3-0.5 s of fixed wall per serve
# (worker round-trip + Arrow setup, measured r15); at ~GB/s of
# per-node shuffle throughput the replicated bytes win below roughly
# this budget at ANY corpus size — the members side is untouched
_IVFPQ_FUSE_BYTES = 64 << 20


def dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a, b):
    # try_divide: NULL (not a crash) for zero-norm inputs (ANSI mode)
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _prep(df: DataFrame, vec_col: str, id_col: str,
          adaptive: bool = True) -> DataFrame:
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.select(F.col(id_col).alias("id"), v.alias("vec")) \
            .withColumn("nrm", norm(F.col("vec")))
    # Embedding tables often arrive as one small file = ONE partition;
    # spread before the heavy work. The spread is SIZE-ADAPTIVE
    # (r15, guide §2/§4): every partition here becomes one
    # Arrow/Python task downstream, and a Python task costs a fixed
    # ~quarter-second worker round-trip regardless of data volume —
    # measured r15: a trivial 32-task mapInPandas over 500 rows burns
    # ~8 s of executor CPU in pure per-task overhead even with warm
    # reused workers, the dominant cost of every small-corpus vector
    # operator (the IVF-PQ serve spent 24 s of executor time in its
    # 64-task assign stage for 2 MB of vectors). Partition count
    # therefore derives from the INPUT SIZE (~_VEC_TASK_BYTES of
    # source bytes per task — thousands of vectors, far past the
    # overhead break-even) and is capped at defaultParallelism
    # exactly as before: a corpus big enough to saturate the cap
    # behaves identically to the old unconditional repartition(par).
    # Partitioning never changes results in the vector operators
    # (content-keyed shuffles, quantized argmax, hash-ordered
    # samples); only task counts move.
    par = df.sparkSession.sparkContext.defaultParallelism
    if adaptive:
        # None = unknown size (LogicalRDD/unknown-stats plans — e.g.
        # a PySpark createDataFrame frame — report the Long.MaxValue
        # sentinel; ADVICE r15 comment fix): keep the full spread —
        # an unknown corpus must never funnel to 1 task. No 2-task
        # floor on known-size inputs (ADVICE r15 considered one): the
        # 1-partition case is load-bearing — it is what removes the
        # hash exchange feeding FlatMapGroupsInPandas in the small-
        # corpus ANN plans (r15 q10 Exchange 6→4), and an
        # underestimate at worst costs parallelism over <2 tasks'
        # worth of source bytes in one Arrow stage.
        est = _plan_size_bytes(df)
        if est is not None:
            par = max(1, min(par, -(-est // _VEC_TASK_BYTES)))
    return out.repartition(par)


def brute_force_topk(df: DataFrame, k: int = 5, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """For every vector, its k nearest neighbours by cosine (excluding
    itself). Deterministic tie-break on neighbour id.

    REFERENCE IMPLEMENTATION for tests only (row-level cross join +
    interpreted HOF dot — O(N²) rows and Python-free but slow): the
    production exact path is ``topk_gemm`` (block GEMM), the scale
    paths are ``lsh_bucketed_topk`` / ``ivf_topk``."""
    # adaptive=False: this row-level cross join is JVM-interpreted
    # per-row work (no Arrow stage), so it wants the task fan-out,
    # not big Arrow batches — the size-adaptive spread would funnel
    # the O(N²) interpreted dots into one task
    base = _prep(df, vec_col, id_col, adaptive=False)
    a = base.alias("a")
    b = base.alias("b")
    # try_divide: a zero-norm vector (hashed_doc_vectors documents
    # them as legal) must yield NULL cosine under ANSI mode, not
    # abort the job; the numpy kernels drop the same rows (NaN)
    sim = F.try_divide(dot(F.col("a.vec"), F.col("b.vec")),
                       F.col("a.nrm") * F.col("b.nrm"))
    pairs = (a.join(b, F.col("a.id") != F.col("b.id"))
             .select(F.col("a.id").alias("id"),
                     F.col("b.id").alias("neighbor_id"),
                     F.round(sim, 6).alias("cosine")))
    w = Window.partitionBy("id").orderBy(F.col("cosine").desc(),
                                         F.col("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("id", "neighbor_id", "cosine", "rank"))


def _id_ddl(df: DataFrame, id_col: str) -> str:
    """DDL type string of the id column — ids pass through untouched
    (no int64 assumption; string ids work)."""
    return df.schema[id_col].dataType.simpleString()


def _block_pairs(df: DataFrame, vec_col: str, id_col: str,
                 block_rows: int, symmetric: bool) -> DataFrame:
    """All-pairs scaffolding for the EXACT operators, fully distributed:

    1. hash every row into a block of ~``block_rows`` vectors,
    2. pack each block into ONE row (ids + matrix) via collect_list —
       a block is ~block_rows×dim×8 bytes (4096×64 ≈ 2 MB), far under
       per-row limits; block_rows is the knob that keeps it that way
       at any N,
    3. join blocks pairwise (nb² rows for top-k, nb(nb+1)/2 when the
       score is symmetric), each joined row carrying two block
       matrices for one numpy GEMM downstream.

    Nothing touches the driver except one count() to size nb. The
    O(N²) flops are inherent to exactness; this shapes them into
    nb² independent ~constant-size tasks instead of a driver
    broadcast (which OOMs the driver at 100 TB) or a row-level cross
    join (N² shuffled rows). Shuffle volume is N·nb packed rows.

    nb is also FLOORED so the pair count covers ~2 waves of the
    cluster's parallelism (r9): with the cap alone, a corpus smaller
    than block_rows collapses to nb=1 — the whole GEMM in ONE task
    on however many cores the cluster has (measured at sf0.1: a
    single 2000x2000 task, and the bench's q10b warm time swung 2-5s
    on that one task's scheduling). Smaller blocks cost only a few
    extra packed rows through the shuffle; at large N the cap term
    dominates and the floor is inert.
    """
    import math
    n = df.count()
    want = 2 * df.sparkSession.sparkContext.defaultParallelism
    floor = math.isqrt(2 * want if symmetric else want)
    floor += 1 if floor * floor < (2 * want if symmetric else want) \
        else 0
    nb = max(1, -(-n // block_rows), min(n, floor))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("id"), v.alias("vec")) \
             .withColumn("blk", F.pmod(F.xxhash64(F.col("id")
                                                  .cast("string")),
                                       F.lit(nb)).cast("int"))
    packed = base.groupBy("blk").agg(
        F.collect_list(F.struct("id", "vec")).alias("items"))
    a = packed.select(F.col("blk").alias("ablk"),
                      F.col("items").alias("a_items"))
    b = packed.select(F.col("blk").alias("bblk"),
                      F.col("items").alias("b_items"))
    cond = (F.col("ablk") <= F.col("bblk")) if symmetric else F.lit(True)
    return a.join(b, cond)


def topk_gemm(df: DataFrame, k: int = 5, vec_col: str = "embedding",
              id_col: str = "vec_id",
              block_rows: int = 4096) -> DataFrame:
    """EXACT top-k as a distributed block GEMM (the classic block-matrix
    multiply, cf. Spark MLlib BlockMatrix): blocks of ~block_rows
    vectors are packed and joined pairwise; each block pair is one
    numpy matmul emitting a LOCAL top-k per query, and a final window
    merges nb partial top-ks per query into the global answer. No
    driver-side collect of the table; shuffle after scoring is
    N·k·nb rows, not N².

    For approximate-but-cheaper at scale prefer lsh_bucketed_topk /
    ivf_topk; this is the exactness baseline."""
    id_t = _id_ddl(df, id_col)
    pairs = _block_pairs(df, vec_col, id_col, block_rows,
                         symmetric=False)
    return _gemm_topk_merge(pairs, k, id_t, mask_self=True)


def _gemm_topk_merge(pairs: DataFrame, k: int, id_t: str,
                     mask_self: bool) -> DataFrame:
    """The block-GEMM scoring + global top-k merge shared by
    ``topk_gemm`` (self-join) and ``topk_gemm_vs`` (queries vs a
    separate corpus): each packed block pair is one numpy matmul
    emitting a LOCAL top-k per query (``_local_topk`` — the same
    deterministic cosine-desc/id-asc kernel the IVF-PQ scorer uses),
    and one window merges the partials."""
    import numpy as np

    def run(batches):
        for pdf in batches:
            for a_items, b_items in zip(pdf["a_items"],
                                        pdf["b_items"]):
                qids = np.array([it["id"] for it in a_items])
                cids = np.array([it["id"] for it in b_items])
                q = np.array([it["vec"] for it in a_items])
                c = np.array([it["vec"] for it in b_items])
                q = q / np.linalg.norm(q, axis=1, keepdims=True)
                c = c / np.linalg.norm(c, axis=1, keepdims=True)
                sims = np.round(q @ c.T, 6)
                yield _local_topk(qids, cids, sims, k,
                                  mask_self=mask_self)

    partial = pairs.mapInPandas(
        run, f"id {id_t}, neighbor_id {id_t}, cosine double")
    w = Window.partitionBy("id").orderBy(F.col("cosine").desc(),
                                         F.col("neighbor_id"))
    return (partial.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("id", "neighbor_id", "cosine", "rank"))


def topk_gemm_vs(queries: DataFrame, corpus: DataFrame, k: int = 5,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 block_rows: int = 4096,
                 mask_self: bool = True) -> DataFrame:
    """EXACT top-k of ``queries`` against a SEPARATE ``corpus`` —
    the ground truth for SERVED ANN (ivf_pq_search ranks queries
    against stored postings, which may have diverged from the query
    frame after ingest/retire; a self-join ground truth would then
    grade against the wrong corpus — ADVICE r11). Same distributed
    block-GEMM shape as ``topk_gemm``: both sides pack into
    ~``block_rows``-vector blocks, every query-block × corpus-block
    pair is one numpy matmul with a local top-k, one window merges.

    ``mask_self=True`` mirrors ivf_pq_search's default serve
    semantics (a member whose id equals the query id is the query's
    own stored row); pass False for external queries."""
    nq, nc = queries.count(), corpus.count()
    want = 2 * queries.sparkSession.sparkContext.defaultParallelism
    nbq = max(1, -(-nq // block_rows))
    # floor the corpus blocking so nbq×nbc covers ~2 waves of the
    # cluster (the _block_pairs parallelism floor, split across the
    # two sides)
    nbc = max(1, -(-nc // block_rows),
              min(max(nc, 1), -(-want // nbq)))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def pack(df, n_b, side):
        base = (df.select(F.col(id_col).alias("id"), v.alias("vec"))
                .withColumn("blk",
                            F.pmod(F.xxhash64(F.col("id")
                                              .cast("string")),
                                   F.lit(n_b)).cast("int")))
        return base.groupBy("blk").agg(
            F.collect_list(F.struct("id", "vec")).alias(side))

    a = (pack(queries, nbq, "a_items")
         .select(F.col("blk").alias("ablk"), "a_items"))
    b = (pack(corpus, nbc, "b_items")
         .select(F.col("blk").alias("bblk"), "b_items"))
    id_t = _id_ddl(queries, id_col)
    return _gemm_topk_merge(a.join(b, F.lit(True)), k, id_t,
                            mask_self=mask_self)


def cosine_pairs(df: DataFrame, threshold: float = 0.95,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id",
                 block_rows: int = 4096) -> DataFrame:
    """EXACT near-duplicate pairs (id_a < id_b, cosine >= threshold) as
    a distributed block GEMM. Cosine is symmetric, so only the upper
    triangle of block pairs is scored (nb(nb+1)/2 tasks); each
    unordered row pair lands in exactly one block-pair task and is
    emitted once, (min, max)-oriented. No driver-side materialization
    of the table."""
    import numpy as np
    import pandas as pd

    id_t = _id_ddl(df, id_col)
    pairs = _block_pairs(df, vec_col, id_col, block_rows,
                         symmetric=True)

    def run(batches):
        for pdf in batches:
            for ablk, bblk, a_items, b_items in zip(
                    pdf["ablk"], pdf["bblk"],
                    pdf["a_items"], pdf["b_items"]):
                qids = pd.Series([it["id"] for it in a_items])
                cids = pd.Series([it["id"] for it in b_items])
                q = np.array([it["vec"] for it in a_items])
                c = np.array([it["vec"] for it in b_items])
                q = q / np.linalg.norm(q, axis=1, keepdims=True)
                c = c / np.linalg.norm(c, axis=1, keepdims=True)
                sims = np.round(q @ c.T, 6)
                qarr, carr = qids.to_numpy(), cids.to_numpy()
                mask = sims >= threshold
                if ablk == bblk:
                    # diagonal block holds both orientations; keep one
                    mask &= qarr[:, None] < carr[None, :]
                else:
                    mask &= qarr[:, None] != carr[None, :]
                qi, ci = np.nonzero(mask)
                # np.where (not np.minimum) so string ids order too
                flip = carr[ci] < qarr[qi]
                lo = np.where(flip, carr[ci], qarr[qi])
                hi = np.where(flip, qarr[qi], carr[ci])
                yield pd.DataFrame({"id_a": lo, "id_b": hi,
                                    "cosine": sims[qi, ci]})

    return pairs.mapInPandas(
        run, f"id_a {id_t}, id_b {id_t}, cosine double")


def _local_topk(qarr, carr, sims, k: int, mask_self: bool = True):
    """Per-query LOCAL top-k (cosine desc, id asc) from a scored
    bipartite block — emitting all within-block pairs into the global
    merge would be the dominant shuffle; N·k partial rows replace
    O(Σ block²). Self-pairs (same id) are masked out unless
    ``mask_self=False`` (the queries-vs-separate-corpus posture,
    where an id collision between a query and a legitimately distinct
    member must NOT drop that member — VERDICT r11 #3). Neighbor ids
    are rank-encoded so the lexsort tie-break works for any id
    dtype."""
    import numpy as np
    import pandas as pd

    sims = sims.copy()
    if mask_self:
        sims[qarr[:, None] == carr[None, :]] = -np.inf
    kk = min(k, sims.shape[1])
    crank = np.unique(carr, return_inverse=True)[1]
    order = np.lexsort(
        (crank[None, :].repeat(len(qarr), 0), -sims),
        axis=1)[:, :kk]
    keep = np.take_along_axis(sims, order, 1) > -np.inf
    qi = np.repeat(np.arange(len(qarr)), kk)[keep.ravel()]
    ci = order.ravel()[keep.ravel()]
    return pd.DataFrame({"id": qarr[qi], "neighbor_id": carr[ci],
                         "cosine": sims[qi, ci]})


def ann_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Recall gauge for ANY approximate ANN result against an exact
    ground truth — both in the (id, neighbor_id, …) result shape
    every top-k op here emits (``topk_gemm`` is the canonical
    truth). ONE row:

    - recall            — micro: |approx ∩ exact| / |exact| over
      (query, neighbor) pairs — the number quoted in ANN papers;
    - mean/min_query_recall — per-query macro stats, so one query
      receiving nothing is visible next to a healthy micro average
      (a failure mode the micro number hides at large n);
    - n_queries / n_pairs / n_hits — the raw counts behind them.

    Plan: one left-semi join on the narrow (id, neighbor_id) keys +
    two bounded aggregates — works at any corpus size the inputs
    themselves support. This is the factored-out form of the recall
    certificates the IVF/LSH driver entries compute inline
    (ivf_topk ≥ 0.85 etc.), exposed as a first-class evaluation verb
    (ann --recall) so an operator can measure a served index's
    recall before trusting it."""
    hits = (exact.select("id", "neighbor_id")
            .join(approx.select("id", "neighbor_id"),
                  ["id", "neighbor_id"], "left_semi"))
    per_q = (exact.groupBy("id").agg(F.count("*").alias("n_true"))
             .join(hits.groupBy("id").agg(F.count("*")
                                          .alias("n_hit")),
                   "id", "left")
             .withColumn("n_hit", F.coalesce("n_hit", F.lit(0))))
    return (per_q.agg(
        F.count("*").alias("n_queries"),
        F.sum("n_true").alias("n_pairs"),
        F.sum("n_hit").alias("n_hits"),
        F.round(F.sum("n_hit") / F.sum("n_true"), 6).alias("recall"),
        F.round(F.avg(F.col("n_hit") / F.col("n_true")), 6)
        .alias("mean_query_recall"),
        F.round(F.min(F.col("n_hit") / F.col("n_true")), 6)
        .alias("min_query_recall")))


def _hyperplanes(n_planes: int, dim: int, seed: int = 42):
    """Deterministic pseudo-random hyperplanes from an LCG (no numpy
    RNG state — reproducible literals)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005
                     + 1442695040888963407) % (2**63)
            # >>11 leaves 52 bits in [0, 2^52); dividing by 2^51
            # maps to [0, 2) so -1 yields ~U(-1, 1). (The old /2^52
            # mapped to [-1, 0): every plane sat in the all-negative
            # orthant, collapsing non-negative vector corpora into
            # ONE bucket per table and correlating the sign bits —
            # review r6.)
            v.append(((state >> 11) / float(2**51)) - 1.0)
        planes.append(v)
    return planes


def lsh_bucketed_topk(df: DataFrame, k: int = 5, n_tables: int = 8,
                      planes_per_table: int = 3,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      dim: int = 64, bucket_cap: int = 2048) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH
    (OR-amplification): L independent tables of m sign bits; a pair is
    a candidate iff it collides in ANY table. Recall for a pair at
    angle θ is 1-(1-(1-θ/π)^m)^L — tuned so moderate-cosine neighbours
    survive. At 100 TB this replaces the O(N²) cross join with L
    per-bucket joins; each table is one explode + one shuffle on the
    bucket key.

    All L·m signature bits per vector come from ONE numpy matmul
    (mapInPandas) — not L·m interpreted array-dot expressions — and
    cross the Python↔JVM Arrow boundary once per VECTOR (an
    array<long> of L table signatures); the L-way replication happens
    JVM-side via posexplode, so Arrow volume is O(N), not O(N·L).

    Hot-bucket handling: a degenerate signature (e.g. near-zero
    vectors all hashing together) would hand one applyInPandas task an
    O(bucket²) matrix. Buckets above ``bucket_cap`` are sub-split by
    id hash into s = ceil(size/cap) sub-blocks and every sub-block
    PAIR is scored as its own bipartite GEMM task — identical results
    (every within-bucket pair still scored exactly once per table),
    but the work lands on s(s+1)/2 bounded tasks instead of one
    straggler. Normal buckets take the single-task path untouched.

    Adaptive gating: when the WHOLE table fits within ``bucket_cap``
    (a parquet-metadata count, no scan), no bucket can exceed the cap,
    so the bucket-size window + partner explode are skipped outright —
    at toy scale that removes ~2 stages of pure overhead; at real
    scale (N >> cap) the sub-split path engages unchanged.
    """
    import numpy as np
    import pandas as pd

    id_t = _id_ddl(df, id_col)
    base = _prep(df, vec_col, id_col).drop("nrm")
    planes = np.array(_hyperplanes(n_tables * planes_per_table, dim))
    m = planes_per_table
    weights = (1 << np.arange(m))

    def signatures(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["vec"]))
            bits = (mat @ planes.T) >= 0            # (n, L·m)
            sigs = bits.reshape(len(pdf), n_tables, m) @ weights
            yield pd.DataFrame({
                "id": pdf["id"],
                "vec": pdf["vec"],
                "sigs": list(sigs.astype(np.int64))})

    bucketed = (base.mapInPandas(
        signatures, f"id {id_t}, vec array<double>, sigs array<long>")
        .select("id", "vec",
                F.posexplode("sigs").alias("t", "sig")))

    # sub-split oversized buckets: rows learn their bucket size via a
    # window over the SAME (t, sig) partitioning the scoring groupBy
    # needs (one shuffle total — the downstream applyInPandas keys
    # (t, sig, ba, bb) are a superset, so Catalyst reuses the
    # exchange), get a sub-block id, and are replicated once per
    # partner sub-block so each (sub_a, sub_b) group holds exactly the
    # rows its bipartite GEMM needs. nsb == 1 for normal buckets —
    # zero replication.
    if df.count() <= bucket_cap:
        # no bucket can exceed the cap — single-task path for every
        # bucket, no size window, no replication
        bk = (bucketed.withColumn("sb", F.lit(0))
              .withColumn("ba", F.lit(0)).withColumn("bb", F.lit(0)))
    else:
        bsz = F.count("*").over(Window.partitionBy("t", "sig"))
        bk = (bucketed
              .withColumn("nsb", F.ceil(bsz / bucket_cap).cast("int"))
              .withColumn("sb", F.pmod(F.xxhash64(F.col("id")
                                                  .cast("string"),
                                                  F.lit(7)),
                                       F.col("nsb")).cast("int"))
              .withColumn("p", F.explode(F.sequence(F.lit(0),
                                                    F.col("nsb") - 1)))
              .withColumn("ba", F.least("sb", "p"))
              .withColumn("bb", F.greatest("sb", "p")))
        # each row lands in group (a,b) exactly once: via p=b when
        # sb=a, via p=a when sb=b, via p=sb on the diagonal — no dedup

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id": [], "neighbor_id": [],
                              "cosine": []})
        if len(pdf) < 2:
            return empty
        diag = pdf["ba"].iat[0] == pdf["bb"].iat[0]
        if diag:
            qdf = cdf = pdf
        else:
            qdf = pdf[pdf["sb"] == pdf["ba"]]
            cdf = pdf[pdf["sb"] == pdf["bb"]]
            if not (len(qdf) and len(cdf)):
                return empty
        q = np.array(list(qdf["vec"]))
        c = np.array(list(cdf["vec"]))
        q = q / np.linalg.norm(q, axis=1, keepdims=True)
        c = c / np.linalg.norm(c, axis=1, keepdims=True)
        sims = np.round(q @ c.T, 6)
        qarr, carr = qdf["id"].to_numpy(), cdf["id"].to_numpy()
        out = _local_topk(qarr, carr, sims, k)
        if not diag:
            # bipartite: both orientations (top-k is per id)
            out = pd.concat([out, _local_topk(carr, qarr, sims.T, k)])
        return out

    # one repartition(id) serves BOTH the cross-table dedup (a pair
    # colliding in several tables) and the rank window — hash
    # partitioning on id satisfies the clustered distribution of
    # dropDuplicates(id, neighbor_id) and of the window, so neither
    # adds its own exchange (2 shuffles → 1).
    pairs = (bk.groupBy("t", "sig", "ba", "bb")
             .applyInPandas(score_group,
                            f"id {id_t}, neighbor_id {id_t}, "
                            f"cosine double")
             .repartition("id")
             .dropDuplicates(["id", "neighbor_id"]))
    w = Window.partitionBy("id").orderBy(F.col("cosine").desc(),
                                         F.col("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("id", "neighbor_id", "cosine", "rank"))


def _refine_centroids(base: DataFrame, Cn, iters: int):
    """Spherical k-means (Lloyd) refinement of an IVF centroid matrix,
    fully distributed. Per iteration:

    1. ONE mapInPandas pass matmuls each Arrow batch's (normalized)
       vectors against the broadcast centroid matrix and emits
       per-BATCH partial sums — ≤ n_lists rows of (lst, acc) per
       batch, the map-side combine done by hand, so the shuffle is
       O(batches × n_lists), never O(N) assignment rows. The member
       count rides as an extra trailing element of ``acc`` so sums
       and counts come out of ONE aggregation (no second pass over
       the data for a separate count job).
    2. a posexplode + groupBy(lst, pos) sum — all JVM-side — then a
       collect of n_lists × (dim+1) scalar cells: the driver payload
       is bounded by the centroid matrix itself, not the data.
    3. new centroid = normalized mean of its members' unit vectors;
       an empty list keeps its previous centroid.

    Returns the refined row-normalized (n_lists × dim) matrix."""
    import numpy as np
    import pandas as pd

    n_lists, dim = Cn.shape
    for _ in range(iters):
        B = Cn

        def psums(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.array(list(pdf["vec"]))
                matn = mat / (np.linalg.norm(mat, axis=1,
                                             keepdims=True) + 1e-12)
                a = np.argmax(matn @ B.T, axis=1)
                ls, accs = [], []
                for lst in np.unique(a):
                    sel = matn[a == lst]
                    ls.append(int(lst))
                    accs.append(np.concatenate(
                        [sel.sum(axis=0), [float(len(sel))]]))
                yield pd.DataFrame({"lst": ls, "acc": accs})

        cells = (base.mapInPandas(psums, "lst int, acc array<double>")
                 .select("lst", F.posexplode("acc").alias("pos", "v"))
                 .groupBy("lst", "pos").agg(F.sum("v").alias("s"))
                 .collect())
        S = np.zeros((n_lists, dim))
        cnt = np.zeros(n_lists)
        for r in cells:
            if r["pos"] == dim:
                cnt[r["lst"]] = r["s"]
            else:
                S[r["lst"], r["pos"]] = r["s"]
        newC = Cn.copy()
        nz = cnt > 0
        newC[nz] = S[nz] / cnt[nz, None]
        Cn = newC / (np.linalg.norm(newC, axis=1,
                                    keepdims=True) + 1e-12)
    return Cn


def build_ivf_centroids(df: DataFrame, n_lists: int = 16,
                        seed: int = 42, train_iters: int = 0,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Train an IVF index ONCE and return its persistable artifact:
    a (list_id, centroid array<double>) table of n_lists unit-norm
    centroids (hash-sampled seeds + optional distributed Lloyd
    refinement — the same training ivf_topk runs inline). Write it
    to parquet and feed it back via ``ivf_topk(..., centroids=)``:
    at 100 TB you train the index once per corpus version and serve
    every query from the stored centroids instead of re-running
    k-means per call."""
    base = _prep(df, vec_col, id_col).drop("nrm")
    Cn = _sample_centroids(base, n_lists, seed)
    if train_iters:
        base = base.localCheckpoint(eager=True)
        Cn = _refine_centroids(base, Cn, train_iters)
    rows = [(i, [float(x) for x in Cn[i]]) for i in range(len(Cn))]
    # coalesce(1): the artifact is BOUNDED (n_lists rows) but
    # createDataFrame spreads it over defaultParallelism slices — a
    # parquet write then produced 32 near-empty files, and every
    # serve-path read of the artifact paid a 32-task scan (measured
    # r15: ~1 s of executor time per serve in artifact-scan overhead
    # alone). One file per bounded artifact is guide-§6 output sizing.
    return df.sparkSession.createDataFrame(
        rows, "list_id int, centroid array<double>").coalesce(1)


def _decode_ivf_centroids(centroids: DataFrame):
    """Cn from a build_ivf_centroids table — bounded collect of
    n_lists rows. Raises ValueError (the surfaces' clean-OpError
    path) on anything that is not a well-formed artifact, instead of
    an AnalysisException / executor-side shape error."""
    import numpy as np

    want = {"list_id", "centroid"}
    if not want <= set(centroids.columns):
        raise ValueError("centroids artifact must have "
                         f"columns {sorted(want)} (from "
                         f"build_ivf_centroids)")
    crows = centroids.orderBy("list_id").collect()
    if not crows:
        raise ValueError("centroids artifact is empty")
    dims = {len(r["centroid"]) for r in crows
            if r["centroid"] is not None}
    if None in [r["centroid"] for r in crows] or len(dims) != 1:
        raise ValueError("centroids artifact has null or "
                         "mixed-dimension centroid vectors")
    if [r["list_id"] for r in crows] != list(range(len(crows))):
        # positions in the decoded matrix ARE the served list ids —
        # a gappy/duplicated artifact would silently relabel every
        # assignment (review r13b)
        raise ValueError("centroids artifact list_id must be "
                         "contiguous 0..n-1 without duplicates")
    return np.array([list(r["centroid"]) for r in crows])


def _sample_centroids(base: DataFrame, n_lists: int, seed: int):
    """Deterministic centroid seeds: the n_lists rows with the
    smallest xxhash64(id, seed), unit-normalized."""
    import numpy as np

    cent_rows = (base.withColumn(
        "hk", F.xxhash64(F.col("id").cast("string"), F.lit(seed)))
        .orderBy("hk").limit(n_lists)
        .select("vec").collect())
    C = np.array([list(r["vec"]) for r in cent_rows])
    return C / (np.linalg.norm(C, axis=1, keepdims=True) + 1e-12)


def ivf_topk(df: DataFrame, k: int = 5, n_lists: int = 16,
             n_probe: int = 4, vec_col: str = "embedding",
             id_col: str = "vec_id", seed: int = 42,
             train_iters: int = 0,
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k:

    1. pick n_lists centroids deterministically (hash-sampled rows),
    2. ONE mapInPandas pass matmuls every vector against the broadcast
       (n_lists × dim) centroid matrix (the `signatures` template from
       lsh_bucketed_topk) and emits, per vector, one member row for its
       nearest list and n_probe query rows for its probed lists — no
       per-row interpreted higher-order-function dots anywhere,
    3. per-list scoring is a groupBy(lst).applyInPandas bipartite GEMM
       (list members × queries probing the list) emitting each query's
       LOCAL top-k, so the post-scoring shuffle is N·n_probe·k partial
       rows, not candidate pairs,
    4. a window merges the ≤ n_probe partial top-ks per query. A
       member belongs to exactly one list, so cross-list pairs are
       already distinct — no dedup exchange needed.

    At 100 TB the candidate work is per-list (shuffle keyed on list
    id), never O(N²); n_lists scales with data size, n_probe trades
    recall for cost. Recall measured in tests vs brute force.

    ``train_iters`` > 0 runs that many distributed spherical-k-means
    Lloyd iterations (_refine_centroids) over the hash-sampled seeds
    — what a real IVF index build does — tightening the lists so the
    same n_probe buys more recall. Cost per iteration: one Arrow pass
    over the vectors + an O(batches × n_lists) shuffle.

    ``centroids`` (r9): a prebuilt (list_id, centroid) table from
    ``build_ivf_centroids`` — possibly parquet-round-tripped. When
    given, sampling/training are SKIPPED entirely (n_lists/seed/
    train_iters are ignored): the train-once / serve-many split a
    production index needs."""
    import numpy as np
    import pandas as pd

    id_t = _id_ddl(df, id_col)
    base = _prep(df, vec_col, id_col).drop("nrm")
    if centroids is not None:
        Cn = _decode_ivf_centroids(centroids)
    else:
        Cn = _sample_centroids(base, n_lists, seed)
        if train_iters:
            # the training passes re-read `base` — materialize it
            # once so each Lloyd iteration (and the final assignment)
            # reads the narrow (id, vec) projection instead of
            # re-running the scan
            base = base.localCheckpoint(eager=True)
            Cn = _refine_centroids(base, Cn, train_iters)
    npb = min(n_probe, len(Cn))

    def assign(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            mat = np.array(list(pdf["vec"]))
            # row-constant query norm doesn't change the argsort; the
            # stable kind matches the old ties-to-lowest-list behavior
            sims = mat @ Cn.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, :npb]
            member = pd.DataFrame({
                "lst": order[:, 0].astype(np.int32),
                "id": pdf["id"].to_numpy(), "vec": pdf["vec"],
                "role": "m"})
            qi = np.repeat(np.arange(n), npb)
            queries = pd.DataFrame({
                "lst": order.ravel().astype(np.int32),
                "id": pdf["id"].to_numpy()[qi],
                "vec": pdf["vec"].to_numpy()[qi],
                "role": "q"})
            yield pd.concat([member, queries])

    both = base.mapInPandas(
        assign, f"lst int, id {id_t}, vec array<double>, role string")

    def score_list(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id": [], "neighbor_id": [],
                              "cosine": []})
        qdf = pdf[pdf["role"] == "q"]
        cdf = pdf[pdf["role"] == "m"]
        if not (len(qdf) and len(cdf)):
            return empty
        q = np.array(list(qdf["vec"]))
        c = np.array(list(cdf["vec"]))
        q = q / (np.linalg.norm(q, axis=1, keepdims=True) + 1e-12)
        c = c / (np.linalg.norm(c, axis=1, keepdims=True) + 1e-12)
        sims = np.round(q @ c.T, 6)
        return _local_topk(qdf["id"].to_numpy(), cdf["id"].to_numpy(),
                           sims, k)

    partial = (both.groupBy("lst")
               .applyInPandas(score_list,
                              f"id {id_t}, neighbor_id {id_t}, "
                              f"cosine double"))
    w = Window.partitionBy("id").orderBy(F.col("cosine").desc(),
                                         F.col("neighbor_id"))
    return (partial.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("id", "neighbor_id", "cosine", "rank"))


def centroid_by_label(df: DataFrame, vec_col: str = "embedding",
                      label_col: str = "label", dim: int = 64) -> DataFrame:
    """Per-label centroid — posexplode + groupBy(label, pos) keeps the
    shuffle narrow (rows × dim, fixed fan-out), then reassembles."""
    ex = (df.select(label_col,
                    F.posexplode(F.col(vec_col)).alias("pos", "x")))
    means = ex.groupBy(label_col, "pos").agg(F.avg("x").alias("m"))
    return (means.groupBy(label_col)
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(label_col,
                    F.transform("pm", lambda s: s["m"]).alias("centroid")))


def _train_pq(R, m: int, n_codes: int, iters: int = 8):
    """Driver-side product-quantizer training: independent k-means per
    subspace over a BOUNDED residual sample (the sample size is fixed
    regardless of corpus size, so driver cost never grows with data —
    the same contract as every ANN index build's training phase).
    Deterministic: init = the first n_codes hash-ordered sample rows
    per subspace, plain Lloyd, no RNG."""
    import numpy as np

    n, dim = R.shape
    d = dim // m
    books = []
    for s in range(m):
        X = R[:, s * d:(s + 1) * d]
        C = np.array([X[i % n] for i in range(n_codes)], dtype=float)
        for _ in range(iters):
            # argmin ||x-c||² == argmax (x·c − ||c||²/2): one GEMM
            # instead of the O(n·k·d) broadcast-subtract tensor
            a = (X @ C.T - 0.5 * (C ** 2).sum(1)).argmax(1)
            # segment means via bincount (np.add.at is ~10× slower)
            cnt = np.bincount(a, minlength=n_codes).astype(float)
            sums = np.stack(
                [np.bincount(a, weights=X[:, j], minlength=n_codes)
                 for j in range(d)], axis=1)
            nz = cnt > 0
            C[nz] = sums[nz] / cnt[nz, None]
        books.append(C)
    return np.stack(books)  # (m, n_codes, d)


def _train_ivfpq(base: DataFrame, n_lists: int, m: int, n_codes: int,
                 seed: int, train_iters: int, sample_size: int,
                 opq_iters: int = 0):
    """Coarse centroids + PQ codebooks (+ optional OPQ rotation) —
    the training half of ivf_pq_topk, factored out so
    build_ivfpq_index can persist the result. Returns
    (Cn, CB, Rt, base, build_dist) — base comes back because
    train_iters materializes it; Rt is None when opq_iters=0 (the
    plain-PQ path, artifact stays pre-r11-shaped)."""
    import numpy as np

    # shared seeding with build_ivf_centroids/ivf_topk (normalization
    # preserves the dimension, so the dim % m check runs on Cn)
    Cn = _sample_centroids(base, n_lists, seed)
    if Cn.shape[1] % m:
        # a silent dim//m split would DROP the trailing dim % m
        # dimensions from the codebooks — with rerank=False the ADC
        # score would ignore them entirely (ADVICE r5). Checked
        # BEFORE the optional k-means refinement so a
        # mis-parameterization can't burn train_iters of cluster
        # work first (review r6).
        raise ValueError(
            f"ivf_pq_topk: vector dim {Cn.shape[1]} is not divisible "
            f"by m={m} subspaces — pick m dividing the dimension")
    if train_iters:
        base = base.localCheckpoint(eager=True)
        Cn = _refine_centroids(base, Cn, train_iters)
    # PQ training sample: smallest sample_size hashes (TakeOrdered —
    # a bounded top-n, not a global sort), residuals vs the FINAL
    # coarse centroids
    samp = (base.withColumn(
        "hk", F.xxhash64(F.col("id").cast("string"), F.lit(seed + 1)))
        .orderBy("hk").limit(sample_size).select("vec").collect())
    S = np.array([list(r["vec"]) for r in samp])
    Sn = S / (np.linalg.norm(S, axis=1, keepdims=True) + 1e-12)
    res = Sn - Cn[np.argmax(Sn @ Cn.T, axis=1)]
    if opq_iters > 0:
        Rt, CB = _train_opq(res, m, n_codes, opq_iters)
    else:
        Rt, CB = None, _train_pq(res, m, n_codes)  # (m, n_codes, d)
    # build-time distortion: mean squared PQ reconstruction error of
    # the TRAINING sample under the final codebooks — the baseline
    # the staleness signal (ivfpq_distortion) compares against; free
    # (driver-side, the sample is already in hand). With OPQ the
    # error lives in the rotated space (‖r·R − PQ(r·R)‖² — equal to
    # the unrotated reconstruction error since R is orthogonal)
    rr = res @ Rt if Rt is not None else res
    build_dist = float(_pq_sq_err(rr, CB).mean()) if len(res) else 0.0
    return Cn, CB, Rt, base, build_dist


def _pq_reconstruct(R, CB):
    """PQ reconstruction r̂ of residual rows R under codebooks CB —
    encode each subspace to its nearest codeword and read the
    codeword back. The inner loop of the OPQ rotation update."""
    import numpy as np

    m, _, d = CB.shape
    out = np.empty_like(R)
    for s in range(m):
        Xs = R[:, s * d:(s + 1) * d]
        codes = (Xs @ CB[s].T - 0.5 * (CB[s] ** 2).sum(1)).argmax(1)
        out[:, s * d:(s + 1) * d] = CB[s][codes]
    return out


def _train_opq(res, m: int, n_codes: int, opq_iters: int,
               pq_iters: int = 8):
    """Optimized Product Quantization, non-parametric form (Ge et
    al. 2013 §4): alternate (a) PQ training on the ROTATED residuals
    and (b) the orthogonal-Procrustes rotation update
    R = U·Vᵀ from SVD(resᵀ·reŝ) — each step weakly decreases the
    quantization error ‖res·R − PQ(res·R)‖², so subspaces end up
    decorrelated instead of inheriting whatever correlated axes the
    raw dimensions had. Deterministic: identity init, plain Lloyd
    inside, no RNG. Returns (Rt, CB) with Rt orthogonal (dim, dim),
    applied to ROW vectors as r_rot = r @ Rt."""
    import numpy as np

    dim = res.shape[1]
    Rt = np.eye(dim)
    for _ in range(max(0, opq_iters)):
        rot = res @ Rt
        CB = _train_pq(rot, m, n_codes, pq_iters)
        rhat = _pq_reconstruct(rot, CB)
        U, _s, Vt = np.linalg.svd(res.T @ rhat)
        Rt = U @ Vt
    # final codebooks on the final rotation; with opq_iters=0 this
    # is exactly the plain-PQ path (Rt = I)
    CB = _train_pq(res @ Rt, m, n_codes, pq_iters)
    return Rt, CB


def _pq_sq_err(R, CB):
    """Per-row squared PQ reconstruction error ‖r − r̂‖² of residual
    rows R under codebooks CB — the distortion kernel shared by the
    build-time baseline and the ivfpq_distortion staleness pass."""
    import numpy as np

    m, _, d = CB.shape
    errs = np.zeros(len(R))
    for s in range(m):
        Xs = R[:, s * d:(s + 1) * d]
        codes = (Xs @ CB[s].T - 0.5 * (CB[s] ** 2).sum(1)).argmax(1)
        errs += ((Xs - CB[s][codes]) ** 2).sum(1)
    return errs


def _pq_assign(matn, Cn, CB, cb_norm2, npb: int, with_codes: bool,
               Rt=None):
    """(order, codes) for a unit-normalized batch: nearest-list order
    (n, npb) — stable argsort, so ties resolve identically everywhere
    — and, when ``with_codes``, the PQ codes (n, m) of each row's
    nearest-list residual. The ONE assignment kernel shared by
    ivf_pq_topk, encode_ivfpq, ivf_pq_search and ivfpq_distortion: a
    vector must encode to the same (list, codes) no matter which verb
    touches it. ``Rt`` (OPQ, r11): residuals are rotated r·R before
    encoding — coarse assignment is UNROTATED (the rotation lives in
    residual space only)."""
    import numpy as np

    sims = matn @ Cn.T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :npb]
    if not with_codes:
        return order, None
    m, _, d = CB.shape
    r = matn - Cn[order[:, 0]]
    if Rt is not None:
        r = r @ Rt
    codes = np.empty((len(matn), m), dtype=np.int16)
    for s in range(m):
        Xs = r[:, s * d:(s + 1) * d]
        codes[:, s] = (Xs @ CB[s].T - cb_norm2[s]).argmax(1)
    return order, codes


def build_ivfpq_index(df: DataFrame, n_lists: int = 16, m: int = 8,
                      n_codes: int = 256, seed: int = 42,
                      train_iters: int = 0, sample_size: int = 2048,
                      opq_iters: int = 0,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Train an IVF-PQ index ONCE and return its persistable
    artifact: one (kind, i, j, vector) table carrying both halves —
    kind='centroid' rows (i = list_id, j = 0, vector = unit coarse
    centroid) and kind='codebook' rows (i = subspace, j = code,
    vector = the d/m-dim codeword). Write to parquet and serve with
    ``ivf_pq_topk(..., index=)``: m and n_codes are derived FROM the
    stored table, and neither k-means nor the PQ sample reruns.

    r10: one kind='stat' row (i = 0, j = 0, vector =
    [build_distortion]) records the mean squared PQ reconstruction
    error of the training sample — the baseline ``ivfpq_distortion``
    compares fresh data against to signal when the index has gone
    stale and should be retrained. Decoders ignore unknown kinds, so
    pre-r10 artifacts stay servable (they just report a null
    baseline).

    r11: ``opq_iters > 0`` trains an OPQ rotation (Ge et al. 2013 —
    alternating PQ / orthogonal-Procrustes updates over the SAME
    bounded sample) and persists it as kind='rotation' rows
    (i = row, j = 0, vector = row i of R). Every consumer
    (encode / serve / topk / distortion) applies the stored rotation
    transparently; plain-PQ artifacts carry no rotation rows and
    decode to the identity path, so the two artifact generations
    interoperate."""
    base = _prep(df, vec_col, id_col).drop("nrm")
    Cn, CB, Rt, _, build_dist = _train_ivfpq(base, n_lists, m,
                                             n_codes, seed,
                                             train_iters,
                                             sample_size, opq_iters)
    rows = [("centroid", i, 0, [float(x) for x in Cn[i]])
            for i in range(len(Cn))]
    rows += [("codebook", s, c, [float(x) for x in CB[s][c]])
             for s in range(CB.shape[0]) for c in range(CB.shape[1])]
    rows += [("stat", 0, 0, [build_dist])]
    if Rt is not None:
        rows += [("rotation", i, 0, [float(x) for x in Rt[i]])
                 for i in range(Rt.shape[0])]
    # coalesce(1): bounded artifact (n_lists + m·n_codes + dim rows)
    # — one parquet file instead of 32 near-empty ones, so the
    # per-serve index collect is a 1-task scan (see
    # build_ivf_centroids)
    return df.sparkSession.createDataFrame(
        rows, "kind string, i int, j int, vector array<double>") \
        .coalesce(1)


def _decode_ivfpq_index(index: DataFrame):
    """(Cn, CB, Rt) from a build_ivfpq_index table — bounded collect
    of n_lists + m·n_codes (+ dim rotation) rows. Rt is None for
    plain-PQ artifacts (no kind='rotation' rows — the pre-r11 shape).
    Raises ValueError on a table that is not a well-formed artifact
    (wrong columns / missing halves / ragged rotation)."""
    import numpy as np

    want = {"kind", "i", "j", "vector"}
    if not want <= set(index.columns):
        raise ValueError(
            f"ivf_pq_topk: index table must have columns {sorted(want)}")
    rows = index.collect()
    cent = sorted(((r["i"], r["vector"]) for r in rows
                   if r["kind"] == "centroid"))
    code = sorted(((r["i"], r["j"], r["vector"]) for r in rows
                   if r["kind"] == "codebook"))
    if not cent or not code:
        raise ValueError("ivf_pq_topk: index table is missing its "
                         "centroid or codebook rows")
    Cn = np.array([list(v) for _, v in cent])
    m = max(i for i, _, _ in code) + 1
    n_codes = max(j for _, j, _ in code) + 1
    cells = {(i, j) for i, j, _ in code}
    if len(code) != m * n_codes or len(cells) != m * n_codes:
        raise ValueError("ivf_pq_topk: codebook rows are not a full "
                         f"{m}x{n_codes} grid (duplicates or gaps)")
    d = len(code[0][2])
    # cross-check the two halves: the ADC decomposition needs the
    # centroid dim to split into exactly m codeword-sized subspaces —
    # a mismatch (concatenated artifacts, hand edits) would otherwise
    # silently floor-truncate dims, the very bug the training-path
    # dim % m check prevents
    if Cn.shape[1] != m * d:
        raise ValueError(
            f"ivf_pq_topk: centroid dim {Cn.shape[1]} != m·d = "
            f"{m}×{d} — the index table mixes incompatible halves")
    CB = np.zeros((m, n_codes, d))
    for i, j, v in code:
        if len(v) != d:
            raise ValueError("ivf_pq_topk: codebook rows have mixed "
                             "codeword dimensions")
        CB[i][j] = list(v)
    rot = sorted(((r["i"], r["vector"]) for r in rows
                  if r["kind"] == "rotation"))
    Rt = None
    if rot:
        dim = Cn.shape[1]
        if (len(rot) != dim or [i for i, _ in rot] != list(range(dim))
                or any(len(v) != dim for _, v in rot)):
            raise ValueError(
                f"ivf_pq_topk: rotation rows are not a full "
                f"{dim}x{dim} orthogonal matrix (gaps, duplicates, "
                f"or ragged rows)")
        Rt = np.array([list(v) for _, v in rot])
    return Cn, CB, Rt


def ivf_pq_topk(df: DataFrame, k: int = 5, n_lists: int = 16,
                n_probe: int = 4, m: int = 8, n_codes: int = 256,
                shortlist: int | None = None, rerank: bool = True,
                vec_col: str = "embedding", id_col: str = "vec_id",
                seed: int = 42, train_iters: int = 0,
                sample_size: int = 2048, opq_iters: int = 0,
                index: DataFrame | None = None) -> DataFrame:
    """IVF-PQ approximate top-k: the coarse inverted file of ivf_topk
    plus a product quantizer over the per-list RESIDUALS, scored by
    asymmetric distance computation (ADC) — the standard
    billion-scale ANN index shape (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search").

    1. coarse centroids: hash-sampled (+ optional distributed
       spherical-k-means refinement, ``train_iters``), as ivf_topk;
    2. PQ codebooks: per-subspace k-means on a BOUNDED hash-ordered
       sample of residuals (driver cost fixed regardless of N);
    3. encode+assign in ONE Arrow mapInPandas pass: each vector emits
       its member row (list, id, m uint codes — dim doubles collapse
       to m small ints) and n_probe query rows;
    4. per-list scoring (groupBy(lst).applyInPandas): each query
       builds m (n_codes)-entry lookup tables from its residual — ADC
       score = q·c_list + Σ_s LUT_s[code_s], table lookups instead of
       the full bipartite GEMM (dim/m × fewer flops per candidate);
    5. ``rerank=True`` (default): ADC selects a per-query shortlist
       (``shortlist``, default 4k) which is re-ranked by EXACT dots —
       output cosines are exact, PQ only prunes the GEMM.
       ``rerank=False``: pure-ADC scores, member vectors never enter
       the shuffle at all (codes-only member rows — the
       storage-optimal classic IVFPQ; output ``cosine`` is the ADC
       approximation).

    Scale: shuffle keyed on list id as ivf_topk; with rerank=False
    the member payload is m byte-sized codes instead of dim doubles
    (~32× narrower at dim=64, m=8, smallint codes). Post-scoring
    merge is N·n_probe·k partial rows.

    Measured on the sf0.01 fixtures (near-random synthetic 64-d
    embeddings — the ADVERSARIAL case for PQ, since true-neighbor
    cosine gaps are tiny): rerank=True recall 0.927 vs exact — equal
    to plain ivf_topk with the same lists, i.e. the ADC shortlist
    loses nothing while cutting the per-candidate flops from dim
    mults to m lookups. Pure-ADC (rerank=False) recall 0.53-0.68:
    honest but lossy on structureless vectors; real embedding
    distributions (cluster structure, decaying spectrum) quantize
    far better. Certificate entry uses rerank=True.

    ``index`` (r9): a prebuilt artifact from ``build_ivfpq_index``
    (possibly parquet-round-tripped). When given, BOTH trainings are
    skipped and m/n_codes are derived from the table (the n_lists/
    seed/train_iters/sample_size params are ignored) — train once
    per corpus version, serve every query from storage.

    ``opq_iters`` (r11): inline-training counterpart of
    ``build_ivfpq_index(opq_iters=)`` — train an OPQ rotation over
    the same bounded sample; a stored index's rotation is read from
    the artifact instead."""
    import numpy as np
    import pandas as pd

    id_t = _id_ddl(df, id_col)
    base = _prep(df, vec_col, id_col).drop("nrm")
    if index is not None:
        Cn, CB, Rt = _decode_ivfpq_index(index)
        m, n_codes = CB.shape[0], CB.shape[1]
    else:
        Cn, CB, Rt, base, _ = _train_ivfpq(base, n_lists, m, n_codes,
                                           seed, train_iters,
                                           sample_size, opq_iters)
    npb = min(n_probe, len(Cn))
    R_short = max(k, shortlist if shortlist is not None else 4 * k)
    cb_norm2 = 0.5 * (CB ** 2).sum(-1)          # (m, n_codes)

    def assign(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            mat = np.array(list(pdf["vec"]))
            matn = mat / (np.linalg.norm(mat, axis=1,
                                         keepdims=True) + 1e-12)
            order, codes = _pq_assign(matn, Cn, CB, cb_norm2, npb,
                                      with_codes=True, Rt=Rt)
            member = pd.DataFrame({
                "lst": order[:, 0].astype(np.int32),
                "id": pdf["id"].to_numpy(),
                "vec": (pdf["vec"] if rerank else [None] * n),
                "codes": list(codes),
                "role": "m"})
            qi = np.repeat(np.arange(n), npb)
            queries = pd.DataFrame({
                "lst": order.ravel().astype(np.int32),
                "id": pdf["id"].to_numpy()[qi],
                "vec": pdf["vec"].to_numpy()[qi],
                "codes": [None] * (n * npb),
                "role": "q"})
            yield pd.concat([member, queries])

    both = base.mapInPandas(
        assign, f"lst int, id {id_t}, vec array<double>, "
                f"codes array<smallint>, role string")
    return _ivfpq_score(both, Cn, CB, k, R_short, rerank, id_t, Rt)


def _det_shortlist(adc, crank, rr: int):
    """Deterministic per-query shortlist of the ``rr`` best ADC
    scores: the SET equals lexsort-by-(score desc, neighbor-rank asc)
    truncated to rr — members strictly above the boundary value are
    always in; the boundary tie class is filled by ascending neighbor
    rank. argpartition + per-row tie repair: O(nc) per query plus a
    sort of the tie class only, vs the previous full lexsort over a
    repeated (nq × nc) rank array (ADVICE r11). Output order within a
    row is arbitrary — callers rerank the shortlist exactly, so only
    set-determinism matters (pinned equal to the lexsort spec by
    property test)."""
    import numpy as np

    nq, nc = adc.shape
    if rr >= nc:
        return np.broadcast_to(np.arange(nc), (nq, nc)).copy()
    p0 = np.argpartition(-adc, rr - 1, axis=1)
    bound = adc[np.arange(nq), p0[:, rr - 1]]
    part = np.empty((nq, rr), dtype=np.int64)
    for i in range(nq):
        row = adc[i]
        strict = np.nonzero(row > bound[i])[0]
        ties = np.nonzero(row == bound[i])[0]
        need = rr - len(strict)
        ties = ties[np.argsort(crank[ties], kind="stable")][:need]
        part[i, :len(strict)] = strict
        part[i, len(strict):len(strict) + len(ties)] = ties
        filled = len(strict) + len(ties)
        if filled < rr:
            # NaN ADC scores (a NaN-containing query vector NaNs the
            # whole row) fall out of both > and == against the
            # boundary, leaving the shortlist short; pad from the
            # remaining candidates by the SPEC order (score desc
            # with NaN last, neighbor rank asc) — the lexsort this
            # replaced ranked NaN scores last and never crashed
            # (ADVICE r12). O(rest log rest) only on NaN rows.
            taken = np.zeros(nc, dtype=bool)
            taken[part[i, :filled]] = True
            rest = np.nonzero(~taken)[0]
            rest = rest[np.lexsort((crank[rest], -row[rest]))]
            part[i, filled:] = rest[:rr - filled]
    return part


def _ivfpq_score(both: DataFrame, Cn, CB, k: int, R_short: int,
                 rerank: bool, id_t: str, Rt=None,
                 exclude_self: bool = True,
                 assign_npb: int | None = None) -> DataFrame:
    """The per-list ADC scoring + global merge half of IVF-PQ,
    shared by ivf_pq_topk (members encoded inline) and
    ivf_pq_search (members from a stored postings table). ``both``
    carries (lst, id, vec, codes, role) rows — role 'm' members,
    role 'q' probes. With an OPQ rotation the LUTs are built from
    the ROTATED query (q·r = (q·R)·(r·R) for orthogonal R, so
    q·x̂ = q·C[lst] + Σ_s (qR)_s·r̂_s); the q·C coarse term stays
    unrotated.

    ``assign_npb`` (r16 fused serve path): when set, the incoming
    role='q' rows are the FULL query set replicated to every list
    (JVM explode — no Python assignment stage ran), and each scoring
    task runs the shared ``_pq_assign`` kernel itself to keep only
    the queries whose ``assign_npb`` nearest lists include this
    group's list. The kept (query, list) pairs are exactly the pairs
    the separate qassign stage would have shuffled here, and the
    kernel input (the raw vec values, re-normalized with the same
    +1e-12 guard) is bit-identical — so the scored candidate set,
    and therefore the result rows, match the two-stage path
    row-for-row (pinned by test)."""
    import numpy as np
    import pandas as pd

    m, n_codes, d = CB.shape
    code_off = (np.arange(m) * n_codes)[None, :]

    def score_list(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id": [], "neighbor_id": [],
                              "cosine": []})
        qdf = pdf[pdf["role"] == "q"]
        cdf = pdf[pdf["role"] == "m"]
        if not (len(qdf) and len(cdf)):
            return empty
        lst = int(pdf["lst"].iloc[0])
        if assign_npb is not None:
            qm = np.array(list(qdf["vec"]))
            qmn = qm / (np.linalg.norm(qm, axis=1,
                                       keepdims=True) + 1e-12)
            order, _ = _pq_assign(qmn, Cn, CB, None, assign_npb,
                                  with_codes=False)
            qdf = qdf[(order == lst).any(axis=1)]
            if not len(qdf):
                return empty
        q = np.array(list(qdf["vec"]))
        qn = q / (np.linalg.norm(q, axis=1, keepdims=True) + 1e-12)
        # per-query LUTs: (nq, m*n_codes) — ADC is pure table lookup.
        # Member reconstruction is x̂ = C[lst] + r̂, so the inner
        # product decomposes as q·x̂ = q·C[lst] + Σ_s q_s·r̂_s: the
        # tables hold q_s·codebook, NOT residualized-query products.
        qr = qn @ Rt if Rt is not None else qn
        lut = np.concatenate(
            [qr[:, s * d:(s + 1) * d] @ CB[s].T for s in range(m)],
            axis=1)
        codes = np.array(list(cdf["codes"]), dtype=np.int64)
        idx = codes + code_off                   # (nc, m)
        adc = lut[:, idx].sum(-1)                # (nq, nc)
        adc += (qn @ Cn[lst])[:, None]
        qids = qdf["id"].to_numpy()
        cids = cdf["id"].to_numpy()
        if not rerank:
            return _local_topk(qids, cids, np.round(adc, 6), k,
                               mask_self=exclude_self)
        nc = adc.shape[1]
        rr = min(R_short, nc)
        # deterministic shortlist: ADC ties at the boundary are
        # broken by neighbor-id rank, NOT input row order (small
        # codebooks make exact ADC ties common — members sharing a
        # code tuple score identically — and a raw argpartition
        # shortlist would then differ between the inline-encode and
        # stored-postings serve paths, which are pinned row-equal).
        # Only the shortlist SET matters (the exact rerank re-sorts),
        # so: argpartition to the boundary, then repair ONLY the
        # boundary tie class by neighbor rank — O(nc + t log t) per
        # query instead of a full O(nc log nc) lexsort over a
        # repeated (nq × nc) rank array (ADVICE r11)
        crank = np.unique(cids, return_inverse=True)[1]
        part = _det_shortlist(adc, crank, rr)
        if any(v is None for v in cdf["vec"]):
            # checked HERE (O(list members), rides the scoring task)
            # rather than as a driver-side pre-scan of the whole
            # postings table, which added a full extra Spark job to
            # every healthy rerank serve (review r10)
            raise ValueError(
                "rerank=True but a postings row has no stored "
                "member vector — re-encode with keep_vectors=True "
                "or pass rerank=False")
        cvec = np.array(list(cdf["vec"]))
        cvn = cvec / (np.linalg.norm(cvec, axis=1,
                                     keepdims=True) + 1e-12)
        exact = np.einsum("qd,qrd->qr", qn, cvn[part])
        sims = np.full(adc.shape, -np.inf)
        np.put_along_axis(sims, part, np.round(exact, 6), axis=1)
        return _local_topk(qids, cids, sims, k,
                           mask_self=exclude_self)

    partial = (both.groupBy("lst")
               .applyInPandas(score_list,
                              f"id {id_t}, neighbor_id {id_t}, "
                              f"cosine double"))
    w = Window.partitionBy("id").orderBy(F.col("cosine").desc(),
                                         F.col("neighbor_id"))
    return (partial.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("id", "neighbor_id", "cosine", "rank"))


def encode_ivfpq(df: DataFrame, index: DataFrame,
                 keep_vectors: bool = True,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """The incremental-ADD verb for a stored IVF-PQ index: encode
    vectors against the PREBUILT index (``build_ivfpq_index``
    artifact — no retraining) in ONE Arrow pass —
    assign-to-nearest-centroid + PQ-encode — and return the postings
    rows (lst, id, codes, vec). Append them to the stored postings
    table (parquet append) to add NEW vectors to a served corpus;
    ``ivf_pq_search`` then serves queries from the postings without
    ever re-encoding members. ``keep_vectors=False`` stores
    codes-only postings (the storage-optimal classic IVFPQ posture —
    m smallint codes instead of dim doubles; search must then run
    ``rerank=False``).

    Encoding is row-local (the index rides the closure), so
    encode(A) ∪ encode(B) ≡ encode(A ∪ B) — the append IS the add,
    no global recompute. Same assignment kernel as ivf_pq_topk
    (``_pq_assign``), pinned by test."""
    import numpy as np
    import pandas as pd

    Cn, CB, Rt = _decode_ivfpq_index(index)
    cb_norm2 = 0.5 * (CB ** 2).sum(-1)
    id_t = _id_ddl(df, id_col)
    base = _prep(df, vec_col, id_col).drop("nrm")

    def enc(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            mat = np.array(list(pdf["vec"]))
            matn = mat / (np.linalg.norm(mat, axis=1,
                                         keepdims=True) + 1e-12)
            order, codes = _pq_assign(matn, Cn, CB, cb_norm2, 1,
                                      with_codes=True, Rt=Rt)
            yield pd.DataFrame({
                "lst": order[:, 0].astype(np.int32),
                "id": pdf["id"].to_numpy(),
                "codes": list(codes),
                "vec": (pdf["vec"] if keep_vectors else [None] * n)})

    return base.mapInPandas(
        enc, f"lst int, id {id_t}, codes array<smallint>, "
             f"vec array<double>")


def ivf_pq_search(queries: DataFrame, postings: DataFrame,
                  index: DataFrame, k: int = 5, n_probe: int = 4,
                  shortlist: int | None = None, rerank: bool = True,
                  exclude_self: bool = True,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id",
                  bounded_queries: bool | None = None) -> DataFrame:
    """Serve ANN queries from a STORED postings table: queries are
    assigned to their n_probe nearest lists in one Arrow pass, the
    postings rows (members, already encoded at add time by
    ``encode_ivfpq``) join them per list, and the shared
    ``_ivfpq_score`` ADC + merge runs exactly as in ivf_pq_topk —
    pinned: search over encode_ivfpq(corpus) equals
    ivf_pq_topk(corpus, index=) row-for-row.

    This is the full production triad: build once
    (build_ivfpq_index), add incrementally (encode_ivfpq + parquet
    append), serve many (this). Per query batch the corpus-sized
    work is the postings scan; nothing is re-encoded.

    ``exclude_self=True`` (default) masks members whose id equals
    the query's id — the self-search posture where the query corpus
    IS the member corpus. Pass ``exclude_self=False`` when queries
    are external to the postings (e.g. a served hybrid query): then
    an id collision between a query and a legitimately distinct
    member never drops that member (VERDICT r11 #3).

    ``bounded_queries`` (r16): pick the FUSED serve shape — queries
    replicated to every list by a JVM explode and assigned inside
    the scoring task — instead of the separate Python assignment
    stage. True forces it (callers that KNOW the query frame is
    bounded, e.g. the one-row hybrid serve), False forces the
    two-stage shape, None (default) decides from Catalyst's size
    estimate: fuse when est × n_lists ≤ _IVFPQ_FUSE_BYTES. The fused
    shape deletes one whole Python stage (~0.3-0.5 s fixed wall per
    serve, guide §4) and the query-side repartition exchange, at the
    cost of shuffling n_lists/n_probe× more query bytes — a win
    whenever the query frame is serve-sized, at ANY corpus size (the
    postings side is identical in both shapes). Results are pinned
    row-equal between the shapes (same assignment kernel on the same
    raw vectors — see _ivfpq_score)."""
    import numpy as np
    import pandas as pd

    Cn, CB, Rt = _decode_ivfpq_index(index)
    want = {"lst", "id", "codes", "vec"}
    if not want <= set(postings.columns):
        raise ValueError("ivf_pq_search: postings table must have "
                         f"columns {sorted(want)} (from encode_ivfpq)")
    # retired members (codes=NULL tombstones appended by
    # retire_vectors) are excluded here, so delete-then-search works
    # without waiting for a compaction; on a tombstone-free table the
    # broadcast side is empty and the anti-join is a no-op
    postings = live_postings(postings)
    # rerank-without-vectors is caught inside the scoring task (one
    # O(members) pass that rides the job), NOT by a driver pre-scan
    # of the whole postings table (review r10)
    npb = min(n_probe, len(Cn))
    R_short = max(k, shortlist if shortlist is not None else 4 * k)
    cb_norm2 = 0.5 * (CB ** 2).sum(-1)
    id_t = _id_ddl(queries, id_col)
    members = postings.select("lst", "id", "vec", "codes",
                              F.lit("m").alias("role"))
    if bounded_queries is None:
        est = _plan_size_bytes(queries)
        bounded_queries = (est is not None
                           and est * len(Cn) <= _IVFPQ_FUSE_BYTES)
    if bounded_queries:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        qrows = queries.select(
            F.explode(F.array(*[F.lit(i).cast("int")
                                for i in range(len(Cn))]))
            .alias("lst"),
            F.col(id_col).alias("id"), v.alias("vec"),
            F.lit(None).cast("array<smallint>").alias("codes"),
            F.lit("q").alias("role"))
        return _ivfpq_score(qrows.unionByName(members), Cn, CB, k,
                            R_short, rerank, id_t, Rt,
                            exclude_self=exclude_self,
                            assign_npb=npb)
    qbase = _prep(queries, vec_col, id_col).drop("nrm")

    def qassign(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            mat = np.array(list(pdf["vec"]))
            matn = mat / (np.linalg.norm(mat, axis=1,
                                         keepdims=True) + 1e-12)
            order, _ = _pq_assign(matn, Cn, CB, cb_norm2, npb,
                                  with_codes=False)
            qi = np.repeat(np.arange(n), npb)
            yield pd.DataFrame({
                "lst": order.ravel().astype(np.int32),
                "id": pdf["id"].to_numpy()[qi],
                "vec": pdf["vec"].to_numpy()[qi],
                "codes": [None] * (n * npb),
                "role": "q"})

    qrows = qbase.mapInPandas(
        qassign, f"lst int, id {id_t}, vec array<double>, "
                 f"codes array<smallint>, role string")
    return _ivfpq_score(qrows.unionByName(members), Cn, CB, k,
                        R_short, rerank, id_t, Rt,
                        exclude_self=exclude_self)


def _ivfpq_build_distortion(index: DataFrame):
    """The build-time distortion baseline from an index artifact's
    kind='stat' row, or None on a pre-r10 artifact (bounded read —
    stat rows are O(1))."""
    for r in index.where(F.col("kind") == "stat").collect():
        if r["i"] == 0 and r["j"] == 0 and r["vector"]:
            return float(r["vector"][0])
    return None


def ivfpq_distortion(df: DataFrame, index: DataFrame,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Staleness signal for a stored IVF-PQ index: mean squared PQ
    reconstruction error of ``df``'s vectors under the index, next
    to the build-time baseline recorded in the artifact. Returns ONE
    row (n, mean_distortion, build_distortion, distortion_ratio) —
    a ratio drifting well above 1 means the data has moved away from
    the distribution the codebooks were trained on and the operator
    should rebuild (the add path itself never degrades silently:
    this is the gauge).

    One Arrow pass (same assignment kernel as encode) + a 1-row
    aggregate; ``distortion_ratio`` is NULL for pre-r10 artifacts
    with no recorded baseline."""
    import numpy as np
    import pandas as pd

    Cn, CB, Rt = _decode_ivfpq_index(index)
    build = _ivfpq_build_distortion(index)
    cb_norm2 = 0.5 * (CB ** 2).sum(-1)
    base = _prep(df, vec_col, id_col).drop("nrm")

    def dist(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["vec"]))
            matn = mat / (np.linalg.norm(mat, axis=1,
                                         keepdims=True) + 1e-12)
            order, _ = _pq_assign(matn, Cn, CB, cb_norm2, 1,
                                  with_codes=False)
            r = matn - Cn[order[:, 0]]
            if Rt is not None:
                # the baseline was recorded in rotated space; the
                # gauge must measure in the same space (orthogonal,
                # so the error magnitude is the honest one either way)
                r = r @ Rt
            yield pd.DataFrame({"err": _pq_sq_err(r, CB)})

    agg = (base.mapInPandas(dist, "err double")
           .agg(F.count("*").alias("n"),
                F.avg("err").alias("__md")))
    return agg.select(
        "n", F.round("__md", 6).alias("mean_distortion"),
        F.lit(build).cast("double").alias("build_distortion"),
        F.round(F.try_divide(F.col("__md"), F.lit(build)), 6)
        .alias("distortion_ratio"))


def retire_vectors(postings: DataFrame, ids) -> DataFrame:
    """The DELETE verb of the index lifecycle (the catalog has
    retire; now the index does too — VERDICT r10 #5): tombstone rows
    for the given member ids, to APPEND to the stored postings table
    (parquet append — the delete is O(delta), symmetric with
    encode_ivfpq's add). A tombstone is (lst, id, codes=NULL,
    vec=NULL); ``ivf_pq_search`` excludes tombstoned (lst, id) pairs
    via a broadcast anti-join, and ``compact_postings`` physically
    removes dead rows once a list's tombstone ratio warrants a
    rewrite.

    ``ids`` is a list of member ids or a 1-column DataFrame. The lst
    of each id is looked up from the LIVE postings (already-retired
    members excluded, so re-running a retire batch after a partial
    failure appends nothing — truly idempotent, and n_dead never
    double-counts; review r11) in ONE scan with the (small) id set
    broadcast — no corpus shuffle. Ids absent from the table produce
    no tombstone. Note the semantics are retire-until-compact:
    re-ADDING a retired id requires compacting first (the anti-join
    would kill the re-added row while its tombstone is still in the
    table)."""
    spark = postings.sparkSession
    if not isinstance(ids, DataFrame):
        id_t = postings.schema["id"].dataType.simpleString()
        ids = spark.createDataFrame(
            [(i,) for i in ids], f"id {id_t}")
    idf = ids.select(F.col(ids.columns[0]).alias("id")).distinct()
    hit = (live_postings(postings)
           .join(F.broadcast(idf), "id", "left_semi")
           .select("lst", "id").distinct())
    return hit.select(
        "lst", "id",
        F.lit(None).cast("array<smallint>").alias("codes"),
        F.lit(None).cast("array<double>").alias("vec"))


def assign_clusters(df: DataFrame, centroids: DataFrame,
                    vec_col: str = "embedding",
                    check_dim: bool = True,
                    keep_invalid: bool = False) -> DataFrame:
    """Nearest-centroid assignment against a stored
    ``build_ivf_centroids`` artifact — the shared row-local kernel of
    the cluster-sample family (r14: factored out of
    ``cluster_balanced_sample`` so the occupancy gauge and the
    streaming twin assign with the SAME code, batch ≡ stream by
    construction). ONE Arrow mapInPandas GEMM stage: dot products
    round-6 quantized BEFORE the argmax (float rounding cannot
    decide an assignment differently across engines), ties take the
    LOWEST list id. Returns df's columns + ``cluster_id``.

    Rows with NULL or dimension-mismatched vectors are DROPPED by
    default; ``keep_invalid=True`` keeps them with ``cluster_id=-1``
    instead — the gauge/stream posture, where unassignable rows must
    be REPORTED, not silently vanish. ``check_dim`` probes one row
    up front and raises loudly on a wholesale dimension mismatch
    (every row would otherwise drop); the probe is an action, so it
    auto-skips on a streaming frame — there the -1 sentinel and the
    per-batch ``n_dropped`` gauge carry the signal instead."""
    import numpy as np
    from pyspark.sql import types as T

    Cn = _decode_ivf_centroids(centroids)
    if check_dim and not df.isStreaming:
        probe = (df.where(F.col(vec_col).isNotNull())
                 .select(F.size(vec_col).alias("__d")).first())
        if probe is not None and probe["__d"] != Cn.shape[1]:
            raise ValueError(
                f"assign_clusters: corpus vectors are "
                f"{probe['__d']}-dimensional but the centroids "
                f"artifact is {Cn.shape[1]}-dimensional — every row "
                f"would drop silently; pass the matching artifact")
    CnT = np.ascontiguousarray(Cn.T)
    d = Cn.shape[1]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("cluster_id", T.IntegerType())])

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ok = pdf[vec_col].map(
                lambda v: v is not None and len(v) == d) \
                .to_numpy(dtype=bool)
            if keep_invalid:
                cid = np.full(len(pdf), -1, dtype="int32")
                if ok.any():
                    mat = np.array(list(pdf[vec_col][ok]),
                                   dtype=np.float64)
                    cid[ok] = np.round(mat @ CnT, 6) \
                        .argmax(axis=1).astype("int32")
                out = pdf.copy()
                out["cluster_id"] = cid
                yield out
                continue
            sub = pdf[ok]
            if not len(sub):
                continue
            mat = np.array(list(sub[vec_col]), dtype=np.float64)
            scores = np.round(mat @ CnT, 6)
            sub = sub.copy()
            sub["cluster_id"] = scores.argmax(axis=1).astype("int32")
            yield sub

    return df.mapInPandas(assign, out_schema)


def cluster_balanced_sample(df: DataFrame, per_cluster: int = 50,
                            n_clusters: int = 16,
                            centroids: DataFrame | None = None,
                            order_col: str | None = None,
                            seed: int = 42, train_iters: int = 1,
                            pre_reduce_salts: int = 32,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Cluster-balanced selection (r13 — the semantic-diversity
    sampling step of modern curation recipes: cluster the corpus in
    embedding space, keep a bounded number per cluster so a few
    semantically redundant mega-clusters cannot dominate the token
    budget; the embedding-space analogue of
    ``pipeline.cap_per_domain``).

    - Assignment: nearest unit-norm IVF centroid — a stored
      ``build_ivf_centroids`` artifact, or trained here once when
      ``centroids`` is None. ``assign_clusters`` (the family's
      shared kernel — one Arrow mapInPandas GEMM, round-6 quantized
      argmax, lowest-list ties; the row vector's norm is constant
      across centroids, so raw-dot order equals cosine order). A
      first JVM formulation (per-centroid zip_with/aggregate folds)
      measured ~16 ms/row because nested lambda expressions run
      interpreted outside codegen (review r13b: 8 s for 500 rows;
      the batched GEMM is ~100× cheaper). Rows with NULL or
      dimension-mismatched vectors are dropped; a corpus whose
      vector DIMENSION wholesale mismatches the artifact is a loud
      ValueError up front (every row would otherwise drop silently —
      review r13b).
    - Selection: ``per_cluster`` rows per cluster — by ``order_col``
      DESC (ties by id) when given, else ascending by
      ``text.sample_order_key`` of the id (a well-MIXED replayable
      hash — raw adler32/poly orders are length/digit-dominated for
      sequential ids and would select the oldest documents, review
      r13b), materialized once and reused by both windows.
    - Skew: the salted two-phase pre-reduce of ``cap_per_domain``
      (VERDICT r8 #3) — a mega-cluster is otherwise ONE giant window
      task; phase 1 caps each (cluster, salt) bucket, phase 2 runs
      the exact window on ≤ per_cluster × salts rows per cluster.

    Returns df's columns + ``cluster_id`` + ``rank``."""
    from .text import sample_order_key

    if per_cluster < 1:
        raise ValueError("cluster_balanced_sample: per_cluster must "
                         "be >= 1")
    if centroids is None:
        centroids = build_ivf_centroids(
            df, n_lists=n_clusters, seed=seed,
            train_iters=train_iters, vec_col=vec_col, id_col=id_col)
    with_c = assign_clusters(df, centroids, vec_col=vec_col)
    if order_col is not None:
        order = [F.col(order_col).desc(), F.col(id_col).asc()]
    else:
        with_c = with_c.withColumn(
            "__k", sample_order_key(F.col(id_col), seed))
        order = [F.col("__k").asc(), F.col(id_col).asc()]
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string"),
                             F.lit(seed)),
                  F.lit(pre_reduce_salts))
    w1 = Window.partitionBy("cluster_id", salt).orderBy(*order)
    phase1 = (with_c.withColumn("__r1", F.row_number().over(w1))
              .where(F.col("__r1") <= per_cluster).drop("__r1"))
    w2 = Window.partitionBy("cluster_id").orderBy(*order)
    out = (phase1.withColumn("rank", F.row_number().over(w2))
           .where(F.col("rank") <= per_cluster))
    return out.drop("__k") if order_col is None else out


def cluster_sample_stats(df: DataFrame, centroids: DataFrame,
                         balance_threshold: float = 4.0,
                         vec_col: str = "embedding",
                         assignments: DataFrame | None = None
                         ) -> DataFrame:
    """Occupancy/health gauge for a stored cluster-sample centroid
    artifact (VERDICT r13 #1 — the ``index_health`` /
    ``text_index_stats`` analogue for the newest operator family):
    assign the corpus with the SAME kernel the sampler uses
    (``assign_clusters``, keep_invalid — unassignable rows are
    reported, not raised, because a gauge must describe the corpus
    it was given) and fold per-cluster occupancy into ONE bounded
    row with a recommendation:

    - ``mismatched`` — rows present but NONE assignable: the corpus'
      vector dimension wholesale mismatches the artifact (the gauge
      twin of ``cluster_balanced_sample``'s loud ValueError);
    - ``retrain``   — empty clusters: dead centroids waste sampling
      capacity (a per-cluster cap over k clusters only draws from
      k - n_empty of them);
    - ``rebalance`` — max/mean occupancy > ``balance_threshold``: a
      mega-cluster dominates; retrain on a current sample or raise
      ``per_cluster`` salts;
    - ``ok``        — none of the above.

    Cost: one Arrow assignment pass over ``df`` (typically a recent
    sample, not the full corpus) + one n_clusters-row aggregate —
    the schedulable-health posture of ``index_health``. Derived
    columns are computed relationally (F.round/try_divide) so the
    DuckDB oracle replays them digit-for-digit.

    ``assignments`` (r15, VERDICT r14 #3): a PRECOMPUTED
    ``assign_clusters(..., keep_invalid=True)`` output over the same
    corpus — when given, ``df`` is not touched and the gauge skips
    its own assignment GEMM entirely, so a deployment that samples
    AND gauges one corpus pays the family's Arrow pass once (share
    the same frame with ``cluster_balanced_sample`` consumers).
    Must carry keep_invalid=True rows (cluster_id = -1 sentinels):
    a dropped-rows assignment would undercount ``n_dropped`` and
    could misreport ``mismatched`` as an empty corpus."""
    n_clusters = int(_decode_ivf_centroids(centroids).shape[0])
    if assignments is not None:
        if "cluster_id" not in assignments.columns:
            raise ValueError(
                "cluster_sample_stats: assignments= must be an "
                "assign_clusters output (no cluster_id column)")
        assigned = assignments
    else:
        assigned = assign_clusters(df, centroids, vec_col=vec_col,
                                   check_dim=False, keep_invalid=True)
    per = assigned.groupBy("cluster_id").agg(F.count("*").alias("n"))
    r = per.agg(
        F.coalesce(F.sum(F.when(F.col("cluster_id") >= 0,
                                F.col("n"))), F.lit(0))
        .alias("n_assigned"),
        F.coalesce(F.sum(F.when(F.col("cluster_id") < 0,
                                F.col("n"))), F.lit(0))
        .alias("n_dropped"),
        F.count(F.when(F.col("cluster_id") >= 0, True))
        .alias("n_nonempty"),
        F.coalesce(F.max(F.when(F.col("cluster_id") >= 0,
                                F.col("n"))), F.lit(0))
        .alias("max_occupancy"),
        F.max("cluster_id").alias("__max_cid")).collect()[0]
    # ADVICE r15: an assignments frame built against DIFFERENT (more)
    # centroids would silently skew every gauge — the out-of-range
    # cluster id is the ~free tell, caught on the same collect. (A
    # keep_invalid=False frame stays documented-only: dropped rows
    # are indistinguishable from a corpus that had none.)
    if r["__max_cid"] is not None and int(r["__max_cid"]) >= n_clusters:
        raise ValueError(
            f"cluster_sample_stats: assignments= carries cluster_id "
            f"{int(r['__max_cid'])} but the decoded centroids define "
            f"only {n_clusters} clusters — the frame was built "
            f"against different/stale centroids")
    spark = df.sparkSession
    row = spark.createDataFrame(
        [(n_clusters, int(r["n_assigned"]), int(r["n_dropped"]),
          n_clusters - int(r["n_nonempty"]),
          int(r["max_occupancy"]))],
        "n_clusters int, n_assigned long, n_dropped long, "
        "n_empty long, max_occupancy long")
    row = row.select(
        "*",
        F.round(F.col("n_assigned") / F.col("n_clusters"), 6)
        .alias("mean_occupancy"),
        F.round(F.try_divide(
            F.col("max_occupancy"),
            F.col("n_assigned") / F.col("n_clusters")), 6)
        .alias("balance_ratio"))
    return row.select(
        "*",
        F.when((F.col("n_dropped") > 0) & (F.col("n_assigned") == 0),
               "mismatched")
        .when(F.col("n_empty") > 0, "retrain")
        .when(F.col("balance_ratio") > F.lit(float(balance_threshold)),
              "rebalance")
        .otherwise("ok").alias("recommendation"))


def cluster_assign_stream(spark, src_dir: str, centroids: DataFrame,
                          table: str = "cluster_assign_stream",
                          sink_dir: str | None = None,
                          checkpoint_dir: str | None = None,
                          timeout_s: int | None = 120,
                          vec_col: str = "embedding") -> DataFrame:
    """Streaming assignment twin of the cluster-sample family
    (VERDICT r13 #1 — the ``dsir_stream``/``score_stream`` posture):
    assign an embedding STREAM to its nearest stored centroid with
    the SAME row-local kernel as the batch sampler
    (``assign_clusters`` — the artifact rides the closure, no
    aggregation state, plain append mode), so stream-assigned rows
    are row-for-row the batch assignment of the same corpus (pinned
    by test). Selection (the per-cluster cap) stays a batch verb —
    it is a global windowed choice; the stream's job is routing rows
    to clusters as they arrive (e.g. sharding an ingest by semantic
    cluster, or feeding per-cluster budget counters downstream).

    Unassignable rows (NULL / dimension-mismatched vectors) carry
    ``cluster_id = -1`` — a stream cannot run the batch path's
    up-front dimension probe, so the sentinel plus the per-batch
    ``n_dropped`` gauge column IS the loud path (a wholesale
    mismatch reads n_dropped == n every batch).

    Deploy posture: pass ``sink_dir`` — each micro-batch parquet-
    appends the assigned rows there and the return value is the
    BOUNDED per-batch gauge (batch_id, n, n_dropped,
    n_clusters_hit); driver state never grows with the stream
    (checkpointed, at-least-once — see ``drain_to_parquet``).
    Without it: availableNow → memory sink, the test rig."""
    from .util import drain_to_parquet, stream_parquet

    out = assign_clusters(stream_parquet(spark, src_dir), centroids,
                          vec_col=vec_col, check_dim=False,
                          keep_invalid=True)
    if sink_dir is not None:
        return drain_to_parquet(
            spark, out, sink_dir,
            [F.count("*").alias("n"),
             F.sum((F.col("cluster_id") < 0).cast("long"))
             .alias("n_dropped"),
             F.count_distinct(F.when(F.col("cluster_id") >= 0,
                                     F.col("cluster_id")))
             .alias("n_clusters_hit")],
            "n long, n_dropped long, n_clusters_hit long",
            checkpoint_dir=checkpoint_dir, timeout_s=timeout_s,
            what="cluster_assign_stream")
    q = (out.writeStream.format("memory").queryName(table)
         .outputMode("append").trigger(availableNow=True).start())
    # honor timeout_s exactly like the sink path's drain_to_parquet
    # (ADVICE r14: a hardcoded 120 ignored timeout_s=None/larger)
    if timeout_s is None:
        q.awaitTermination()
    elif not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"cluster_assign_stream did not finish within "
            f"{timeout_s}s — refusing to return a partially "
            f"populated memory table")
    return spark.table(table)


def upsert_vectors(postings: DataFrame, df: DataFrame,
                   index: DataFrame, keep_vectors: bool = True,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """The REPLACE-or-ADD verb for a served IVF-PQ postings table
    (VERDICT r12 #5 — the ``upsert_text_index`` analogue, completing
    lifecycle symmetry between the retrieval families): drop EVERY
    stored row of the incoming ids — live postings, and any stale
    tombstones ``retire_vectors`` left for them — then append the
    incoming vectors freshly encoded against the stored index
    (``encode_ivfpq``, row-local, no retraining).

    Because encoding is row-local (encode(A) ∪ encode(B) ≡
    encode(A ∪ B)) and the drop removes exactly the incoming ids'
    rows, upsert(encode(A ∪ B_old), B_new) ≡ encode(A ∪ B_new)
    ROW-for-row, and upsert is idempotent (pinned by test). Ids new
    to the table degrade to a plain encode-append. Tombstone-correct
    where a retire + append is NOT: ``live_postings`` kills a
    re-added row while its old tombstone is still in the table —
    upsert removes the tombstone with the row, so
    retire-then-upsert re-adds cleanly without a compaction.

    Plan shape: the incoming id set is the upsert batch — bounded,
    BROADCAST into one anti-join against the postings (at scale, a
    partition-selective rewrite of the lists holding those ids);
    the encode side is one Arrow pass over the batch. Nothing
    corpus-sized shuffles. ``keep_vectors`` must match the stored
    table's posture (codes-only tables take codes-only upserts)."""
    new_ids = df.select(F.col(id_col).alias("id")).distinct()
    kept = postings.join(F.broadcast(new_ids), "id", "left_anti")
    fresh = encode_ivfpq(df, index, keep_vectors=keep_vectors,
                         vec_col=vec_col, id_col=id_col)
    return kept.unionByName(fresh)


def live_postings(postings: DataFrame) -> DataFrame:
    """Postings with tombstoned members removed: rows whose (lst, id)
    has a codes=NULL tombstone anywhere in the table are dead. The
    tombstone side is a narrow (lst, id) projection under an IsNull
    filter (row-group null counts skip clean files) and is broadcast
    — deletes are assumed << corpus, so the exclusion never shuffles
    the postings."""
    t = (postings.where(F.col("codes").isNull())
         .select("lst", "id"))
    return (postings.where(F.col("codes").isNotNull())
            .join(F.broadcast(t), ["lst", "id"], "left_anti"))


def postings_tombstone_stats(postings: DataFrame) -> DataFrame:
    """Per-list health of a stored postings table: live/dead row
    counts and the tombstone ratio — the operator's signal for WHICH
    lists ``compact_postings`` should rewrite. One scan, one
    groupBy(lst) with map-side combine."""
    return (postings.groupBy("lst")
            .agg(F.sum(F.col("codes").isNotNull().cast("long"))
                 .alias("n_live"),
                 F.sum(F.col("codes").isNull().cast("long"))
                 .alias("n_dead"))
            .select("lst", "n_live", "n_dead",
                    F.round(F.try_divide(
                        F.col("n_dead"),
                        F.col("n_dead") + F.col("n_live")), 6)
                    .alias("tombstone_ratio")))


def compact_postings(postings: DataFrame,
                     min_ratio: float = 0.0) -> DataFrame:
    """Rewrite lists whose tombstone ratio is >= ``min_ratio``
    (and > 0) without their dead rows and tombstones; lists below
    the threshold pass through UNCHANGED — on a postings table
    partitioned by lst, only the dirty lists' files are rewritten
    (dynamic partition overwrite), which is the object-store-honest
    compaction shape. With the default min_ratio=0.0 every dirty
    list is compacted. Search results are preserved exactly:
    ``ivf_pq_search`` already excludes tombstoned rows, compaction
    just makes the exclusion physical (pinned by test).

    The dirty-list set is a per-list aggregate (bounded: n_lists
    rows) broadcast back over one postings scan — no corpus
    shuffle."""
    stats = postings_tombstone_stats(postings)
    dirty = (stats.where((F.col("n_dead") > 0)
                         & (F.col("tombstone_ratio")
                            >= float(min_ratio)))
             .select("lst"))
    keep = postings.join(F.broadcast(dirty), "lst", "left_anti")
    rewritten = live_postings(
        postings.join(F.broadcast(dirty), "lst", "left_semi"))
    return keep.unionByName(rewritten)


def index_health(df: DataFrame, postings: DataFrame,
                 index: DataFrame,
                 distortion_threshold: float = 1.5,
                 tombstone_threshold: float = 0.2,
                 balance_threshold: float = 4.0,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """The rebuild-decision verb for a served IVF-PQ index
    (VERDICT r11 #4): fold the three existing gauges — codebook
    staleness (``ivfpq_distortion`` of ``df``, typically a recent
    data sample, vs the build-time baseline), tombstone load
    (``postings_tombstone_stats`` rolled up), and live-list balance
    (max/mean list size — a hot list serves a disproportionate share
    of probes) — into ONE bounded row with a recommendation:

    - ``rebuild``  — distortion_ratio > ``distortion_threshold``:
      the data has drifted from the codebooks' training
      distribution. Recipe: retrain with ``build_ivfpq_index`` on a
      current sample (reusing the old artifact's n_lists/m/n_codes,
      plus ``opq_iters`` if it carried a rotation), re-encode the
      live corpus with ``encode_ivfpq`` against the NEW index, and
      cut serving over once the new postings are complete — the old
      artifact keeps serving during the rebuild.
    - ``compact``  — overall tombstone_ratio > ``tombstone_threshold``
      (or any list past it): run ``compact_postings`` to drop dead
      rows; results are unchanged, scans shrink.
    - ``rebalance`` — balance_ratio > ``balance_threshold`` with no
      worse finding: recall/latency skews toward hot lists; retrain
      (as rebuild) or raise n_probe.
    - ``ok``       — none of the above.

    Severity order rebuild > compact > rebalance: a drifted codebook
    makes compaction moot. Cost: one Arrow distortion pass over
    ``df`` + one postings aggregate (n_lists rows) — cheap enough to
    run on a schedule."""
    d = ivfpq_distortion(df, index, vec_col=vec_col,
                         id_col=id_col).collect()[0]
    ts = postings_tombstone_stats(postings)
    t = (ts.agg(F.sum("n_live").alias("n_live"),
                F.sum("n_dead").alias("n_dead"),
                F.sum((F.col("tombstone_ratio")
                       > float(tombstone_threshold)).cast("long"))
                .alias("n_lists_dirty"),
                F.count("*").alias("n_lists_used"),
                F.max("n_live").alias("max_list"),
                F.avg("n_live").alias("mean_list"))
         .collect()[0])
    n_lists_total = index.where(F.col("kind") == "centroid").count()
    n_live = int(t["n_live"] or 0)
    n_dead = int(t["n_dead"] or 0)
    tomb = (n_dead / (n_dead + n_live)) if (n_dead + n_live) else 0.0
    bal = (float(t["max_list"]) / float(t["mean_list"])
           if t["mean_list"] else None)
    ratio = d["distortion_ratio"]
    if ratio is not None and ratio > distortion_threshold:
        rec = "rebuild"
    elif (tomb > tombstone_threshold
          or int(t["n_lists_dirty"] or 0) > 0):
        rec = "compact"
    elif bal is not None and bal > balance_threshold:
        rec = "rebalance"
    else:
        rec = "ok"
    spark = df.sparkSession
    return spark.createDataFrame(
        [(int(d["n"]), d["mean_distortion"], d["build_distortion"],
          ratio, n_live, n_dead, round(tomb, 6),
          int(t["n_lists_dirty"] or 0), int(t["n_lists_used"]),
          int(n_lists_total),
          None if bal is None else round(bal, 6), rec)],
        "n_sampled long, mean_distortion double, "
        "build_distortion double, distortion_ratio double, "
        "n_live long, n_dead long, tombstone_ratio double, "
        "n_lists_dirty long, n_lists_used long, n_lists_total long, "
        "balance_ratio double, recommendation string")


def should_rebuild(df: DataFrame, postings: DataFrame,
                   index: DataFrame, **kwargs) -> bool:
    """True iff ``index_health`` recommends a codebook rebuild —
    the one-boolean form for schedulers; thresholds pass through."""
    return (index_health(df, postings, index, **kwargs)
            .collect()[0]["recommendation"] == "rebuild")


def encode_ivfpq_stream(spark, src_dir: str, index: DataFrame,
                        postings_dir: str,
                        checkpoint_dir: str | None = None,
                        keep_vectors: bool = True,
                        max_files_per_trigger: int | None = None,
                        timeout_s: int | None = 300,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Streaming postings ingest — the add verb of the index
    lifecycle over an embedding STREAM (VERDICT r10 #4): each
    micro-batch is encoded with the SAME row-local kernel as batch
    ``encode_ivfpq`` (the index rides the closure) and parquet-
    APPENDED to ``postings_dir``, then gauged with
    ``ivfpq_distortion`` so staleness is queryable per batch.
    Because encoding is row-local, stream-ingested postings are
    row-for-row the batch encode of the same corpus (pinned by
    test); ``ivf_pq_search`` serves from them identically.

    Returns the per-batch gauge table: (batch_id, n,
    mean_distortion, build_distortion, distortion_ratio) — bounded
    driver state, ONE row per micro-batch. The gauge costs one extra
    Arrow pass over each batch; skip-worthy only if distortion is
    monitored elsewhere.

    ``checkpoint_dir`` (default ``postings_dir + "__checkpoint"``)
    makes restarts resume after the last committed batch.
    foreachBatch is at-least-once: a crash BETWEEN the parquet
    append and the checkpoint commit re-appends that batch on
    restart — dedupe on (lst, id) downstream or compact if exact
    once matters. ``timeout_s`` bounds the drain (None = wait
    indefinitely — the production posture for a corpus-sized
    ingest); on expiry the query is stopped and a restart resumes
    from the checkpoint.

    Tombstone guard (VERDICT r13 #4; re-read per batch since r15):
    when the destination holds tombstones (``retire_vectors``
    output), a batch that re-adds a retired id is REFUSED loudly —
    ``live_postings``' anti-join would kill the appended row while
    the old tombstone sits in the table, a silently dead re-add.
    ``upsert_vectors`` (ann --upsert) is the verb that removes the
    tombstone with the row; ``compact_postings`` first also clears
    the conflict. The tombstone id projection is re-read INSIDE
    each batch (VERDICT r14 #2: a ``retire_vectors`` committed
    while the stream drains must be visible to later batches — the
    once-at-start read left exactly the race the guard exists to
    close); the projection is deletes-sized (null-count row-group
    skipping on clean files) and broadcast, so the per-batch cost
    is one narrow scan, not a corpus pass."""
    stream = stream_parquet(
        spark, src_dir, max_files_per_trigger=max_files_per_trigger)
    gauge_rows = []
    conflict_msg: list = []

    def per_batch(batch_df, batch_id):
        dead = _tombstoned_in_batch(spark, postings_dir, batch_df,
                                    id_col)
        if dead:
            conflict_msg.append(
                f"encode_ivfpq_stream: batch {batch_id} re-adds "
                f"retired id(s) {dead}… — an "
                f"appended row for a tombstoned id is silently "
                f"DEAD (live_postings excludes it while the "
                f"tombstone remains); use upsert_vectors "
                f"(ann --upsert) to replace retired ids, or "
                f"compact_postings first")
            raise ValueError(conflict_msg[0])
        enc = encode_ivfpq(batch_df, index,
                           keep_vectors=keep_vectors,
                           vec_col=vec_col, id_col=id_col)
        enc.write.mode("append").parquet(postings_dir)
        g = ivfpq_distortion(batch_df, index, vec_col=vec_col,
                             id_col=id_col).collect()[0]
        if g["n"]:
            gauge_rows.append((int(batch_id), int(g["n"]),
                               g["mean_distortion"],
                               g["build_distortion"],
                               g["distortion_ratio"]))

    q = (stream.writeStream.foreachBatch(per_batch)
         .option("checkpointLocation",
                 checkpoint_dir or postings_dir + "__checkpoint")
         .trigger(availableNow=True).start())
    try:
        if timeout_s is None:
            q.awaitTermination()
        elif not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"encode_ivfpq_stream did not finish within "
                f"{timeout_s}s — postings may be partially "
                f"ingested; restart resumes from the checkpoint")
    except Exception:
        # surface the tombstone refusal as the clean ValueError,
        # not a wrapped StreamingQueryException traceback
        if conflict_msg:
            raise ValueError(conflict_msg[0]) from None
        raise
    return spark.createDataFrame(
        gauge_rows,
        "batch_id long, n long, mean_distortion double, "
        "build_distortion double, distortion_ratio double")


def _tombstoned_in_batch(spark, postings_dir: str, batch_df,
                         id_col: str) -> list:
    """The per-batch half of ``encode_ivfpq_stream``'s tombstone
    guard, factored out so the mid-drain visibility contract is
    directly testable: read the CURRENT tombstone id projection from
    ``postings_dir`` (fresh each call — a retire committed between
    batches is seen by the next batch) and return up to 3 of the
    batch's ids that collide with it (empty list = clean batch)."""
    from pyspark.errors import AnalysisException

    try:
        tomb = (spark.read.parquet(postings_dir)
                .where(F.col("codes").isNull())
                .select("id").distinct())
    except AnalysisException:         # first ingest: no table yet
        return []
    hits = (batch_df.select(F.col(id_col).alias("id"))
            .join(F.broadcast(tomb), "id", "left_semi")
            .take(3))
    return sorted(r["id"] for r in hits)


def hashed_doc_vectors(df: DataFrame, dim: int = 64,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Feature-hashed document vectors — the hashing trick
    (Weinberger et al. 2009): token occurrences hash to ``dim``
    buckets with a ±1 sign hash (debiases inner products), signed
    counts are sqrt-damped and l2-normalized into an array<double>.
    Model-free document embeddings: when no learned embedding table
    exists, these plug into every vector operator downstream
    (cosine_pairs, topk_gemm, LSH/IVF ANN, semantic_dedup).

    Identical texts map to identical vectors; high token overlap →
    high cosine. Relational end-to-end: explode → groupBy(id,
    bucket) signed sum (map-side combinable) → one per-doc dense
    assembly via map_from_entries — two narrow shuffles, no Python,
    xxhash64 in codegen.  Returns (id_col, vector array<double>)."""
    from .text import tokens as _tokens

    tok = df.select(F.col(id_col).alias("id"),
                    F.explode(_tokens(F.col(text_col))).alias("term"))
    h = F.xxhash64(F.col("term"))
    bucket = F.pmod(h, F.lit(dim)).cast("int")
    sign = F.when(F.pmod(F.xxhash64(F.col("term"), F.lit(1)),
                         F.lit(2)) == 0,
                  F.lit(1.0)).otherwise(F.lit(-1.0))
    per = (tok.select("id", bucket.alias("b"), sign.alias("s"))
           .groupBy("id", "b").agg(F.sum("s").alias("v")))
    damped = F.signum("v") * F.sqrt(F.abs(F.col("v")))
    dense = (per.select("id", "b", damped.alias("x"))
             .groupBy("id")
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("b", "x"))).alias("m")))
    vec = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                      lambda i: F.coalesce(F.element_at("m", i), # type: ignore[arg-type]
                                           F.lit(0.0)))
    nrm = norm(vec)
    # a doc whose signed counts fully cancel yields the zero vector —
    # keep it as zeros (ANSI division by a zero norm would throw;
    # downstream cosine kernels guard with +1e-12 anyway)
    unit = F.when(nrm > 0, F.transform(vec, lambda x: x / nrm))             .otherwise(vec)
    return dense.select(F.col("id").alias(id_col),
                        unit.alias("vector"))
