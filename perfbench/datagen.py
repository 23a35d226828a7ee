"""Seeded synthetic source tables for the catalog benchmark.

The catalog maps TPC-H-shaped ``lineitem`` and ``orders`` tables to
metacat files, memberships and provenance (metacat_spark.fixtures).
This module writes those two tables as parquet, deterministically from
a seed, so every benchmark run builds its own inputs from source.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PRIO_WORDS = ["urgent", "high", "medium", "notspec", "low"]
_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
_SIX_YEARS_US = 6 * 365 * 86_400 * 1_000_000


@dataclass(frozen=True)
class SourceTables:
    """What the load generators need to know about the written tables."""
    root: str
    file_ids: list[str]          # every file id, sorted
    dataset_files: dict          # "ns:name" -> sorted file ids


def file_id(orderkey: int, linenumber: int, partkey: int,
            suppkey: int) -> str:
    """Python twin of fixtures.FILE_ID."""
    return f"f{orderkey:09d}{linenumber}{partkey:07d}{suppkey:05d}"


def write_tables(root: str, seed: int, n_orders: int) -> SourceTables:
    """Write ``orders.parquet`` and ``lineitem.parquet`` under ``root``."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)

    okeys = np.arange(n_orders, dtype=np.int64)
    prio = rng.integers(0, len(PRIORITIES), n_orders)
    odate = _EPOCH_1992 + rng.integers(0, _SIX_YEARS_US, n_orders) \
        .astype("timedelta64[us]")
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, 1500, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(1e3, 4e5, n_orders), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[prio],
    })
    pq.write_table(orders, os.path.join(root, "orders.parquet"))

    lines = rng.integers(1, 8, n_orders)
    l_okey = np.repeat(okeys, lines)
    l_line = np.concatenate([np.arange(1, k + 1) for k in lines]) \
        .astype(np.int32)
    n = len(l_okey)
    l_part = rng.integers(0, 2000, n, dtype=np.int64)
    l_supp = rng.integers(0, 100, n, dtype=np.int64)
    lineitem = pa.table({
        "l_orderkey": l_okey,
        "l_partkey": l_part,
        "l_suppkey": l_supp,
        "l_linenumber": l_line,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 1e5, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": np.repeat(odate, lines)
        + rng.integers(1, 122, n).astype("timedelta64[D]")
        .astype("timedelta64[us]"),
    })
    pq.write_table(lineitem, os.path.join(root, "lineitem.parquet"))

    ids = [file_id(int(o), int(ln), int(p), int(s))
           for o, ln, p, s in zip(l_okey, l_line, l_part, l_supp)]
    flags = lineitem.column("l_returnflag").to_pylist()
    line_prio = np.repeat(prio, lines)
    members: dict[str, list[str]] = {}
    for i, fid in enumerate(ids):
        o = int(l_okey[i])
        for ds in (f"dune:{PRIO_WORDS[line_prio[i]]}_{o % 4}",
                   f"mc:flag_{flags[i].lower()}", "test:all"):
            members.setdefault(ds, []).append(fid)
    return SourceTables(root=root, file_ids=sorted(ids),
                        dataset_files={k: sorted(v)
                                       for k, v in members.items()})


# a few real words so BM25 queries hit; the rest are made up
COMMON_WORDS = ["the", "data", "spark", "window", "merge", "file", "run",
                "query", "catalog", "event"]
EVENT_TYPES = ["view", "click", "purchase", "signup"]
EMBED_DIM = 64


def _vocab(rng, n: int) -> list[str]:
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words = set(COMMON_WORDS)
    while len(words) < n:
        words.add("".join(cons[rng.integers(len(cons))]
                          + vows[rng.integers(len(vows))]
                          for _ in range(int(rng.integers(1, 4)))))
    return sorted(words)


def write_corpus(root: str, seed: int, n_docs: int, n_vecs: int,
                 n_events: int) -> None:
    """Write ``documents``, ``embeddings`` and ``events`` parquet under
    ``root``, in the schema of the package's corpus fixtures. A fifth
    of the documents are near-copies of an earlier one, so the
    deduplication operators find pairs."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(root, exist_ok=True)

    vocab = np.array(_vocab(rng, 400))
    weight = 1.0 / np.arange(1, len(vocab) + 1)
    weight /= weight.sum()
    texts: list[str] = []
    for d in range(n_docs):
        if d > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(d))].split()
            for _ in range(2):
                words[int(rng.integers(len(words)))] = str(
                    vocab[rng.integers(len(vocab))])
        else:
            words = list(vocab[rng.choice(len(vocab), int(rng.integers(
                20, 80)), p=weight)])
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(["en", "de", "fr"]), n_docs),
        "source": rng.choice(np.array(["web", "wiki", "code"]), n_docs),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(root, "documents.parquet"))

    labels = rng.integers(0, 8, n_vecs).astype(np.int32)
    centres = rng.normal(size=(8, EMBED_DIM))
    vecs = (centres[labels] + 0.6 * rng.normal(size=(n_vecs, EMBED_DIM))) \
        .astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    }), os.path.join(root, "embeddings.parquet"))

    # per-user bursts over three days, so users have several sessions
    users = rng.integers(0, max(1, n_events // 20), n_events)
    ts = _EPOCH_1992 + (rng.integers(0, 3 * 86_400, n_events)
                        // 600 * 600 * 1_000_000
                        + rng.integers(0, 900_000_000, n_events)) \
        .astype("timedelta64[us]")
    order = np.argsort(ts, kind="stable")
    pq.write_table(pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts[order],
        "user_id": users[order].astype(np.int64),
        "event_type": rng.choice(np.array(EVENT_TYPES), n_events),
        "value": np.round(rng.uniform(0, 100, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 50, n_events)],
    }), os.path.join(root, "events.parquet"))
