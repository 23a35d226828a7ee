"""Seeded request generation for the catalog benchmark.

Every request list is built from the seed before the timer starts. Each
read request carries the DuckDB SQL that answers it, so outputs can be
checked after the run without timing the oracle.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass, field
from typing import Optional

from datagen import SourceTables

# read_mix request classes. No published catalog traffic breakdown was
# found to weigh them by, so every class has the same weight: a block
# holds each class once, in seeded order.
READ_CLASSES = ["file", "fids", "pred", "page", "count", "parents", "setop"]
BLOCK = len(READ_CLASSES)
# Zipf exponent of dataset and file-id popularity: the classic s = 1,
# assumed rather than measured
ZIPF_S = 1.0
PAGES = 10          # cursor pages start uniformly in the first PAGES
# MQL predicate text, SQL twin, parameter choices
PREDICATES = [
    ("core.run > {0}", "m_core_run > {0}", (100, 200, 300, 400)),
    ("core.x <= {0}", "m_core_x <= {0}", (0.25, 0.55)),
    ("core.good = true", "m_core_good", (None,)),
    ("core.run in {0}:{1}", "m_core_run between {0} and {1}",
     ((0, 120), (200, 320))),
]
ACTIVE = "not retired"
# the writer's op cycle, each op kind once (same rule as READ_CLASSES);
# frozen datasets (suffix _0) are never targets
WRITE_CYCLE = ["declare", "update", "add", "retire"]
WRITABLE = ["dune:high_1", "dune:medium_2"]


@dataclass
class Request:
    kind: str
    path: str
    params: dict
    body: Optional[bytes] = None
    # oracle: ("set"|"subset"|"count", sql, limit)
    oracle: tuple = ()

    @property
    def key(self) -> tuple:
        return (self.path, tuple(sorted(self.params.items())), self.body)


def member(ds: str) -> str:
    ns, name = ds.split(":")
    return (f"id in (select file_id from files_datasets where "
            f"dataset_namespace = '{ns}' and dataset_name = '{name}')")


class Zipf:
    """Rank-skewed choice over ``items``, ranked in a seeded permutation
    unless ``shuffle`` is off."""

    def __init__(self, rng: random.Random, items, s: float = ZIPF_S,
                 shuffle: bool = True):
        self.items = list(items)
        if shuffle:
            rng.shuffle(self.items)
        w = [1.0 / (k + 1) ** s for k in range(len(self.items))]
        total = sum(w)
        acc, self.cdf = 0.0, []
        for x in w:
            acc += x / total
            self.cdf.append(acc)
        self.rng = rng

    def pick(self):
        i = bisect.bisect_left(self.cdf, self.rng.random())
        return self.items[min(i, len(self.items) - 1)]


def _pred(rng: random.Random) -> tuple[str, str]:
    mql, sql, choices = PREDICATES[rng.randrange(len(PREDICATES))]
    arg = choices[rng.randrange(len(choices))]
    args = arg if isinstance(arg, tuple) else (arg,)
    return mql.format(*args), sql.format(*args)


def _query(kind: str, mql: str, sql: str, oracle: str = "set",
           limit: Optional[int] = None, **extra) -> Request:
    params = {"query": mql, **{k: str(v) for k, v in extra.items()}}
    return Request(kind, "/data/query", params, oracle=(oracle, sql, limit))


def read_requests(tables: SourceTables, seed: int, n: int) -> list[Request]:
    """``n`` read_mix requests: blocks of READ_CLASSES in seeded order,
    parameters Zipf-skewed over datasets and file ids."""
    rng = random.Random(seed)
    # dataset popularity is the same for every seed, so every run puts
    # the same share of traffic on big and small datasets
    datasets = Zipf(rng, sorted(tables.dataset_files), shuffle=False)
    fids = Zipf(rng, tables.file_ids)
    sel = "select id from files where "
    out: list[Request] = []
    while len(out) < n:
        block = list(READ_CLASSES)
        rng.shuffle(block)
        for kind in block:
            ds = datasets.pick()
            if kind == "file":
                fid = fids.pick()
                out.append(Request(kind, "/data/file", {"fid": fid},
                                   oracle=("set", f"{sel}id = '{fid}'",
                                           None)))
            elif kind == "fids":
                ids = sorted({fids.pick() for _ in range(3)})
                lits = ", ".join(f"'{i}'" for i in ids)
                out.append(_query(kind, "fids " + ", ".join(ids),
                                  f"{sel}id in ({lits})"))
            elif kind == "pred":
                pm, ps = _pred(rng)
                lim = rng.choice((10, 50))
                out.append(_query(
                    kind, f"files from {ds} where {pm} limit {lim}",
                    f"{sel}{ACTIVE} and {member(ds)} and {ps}",
                    oracle="subset", limit=lim))
            elif kind == "page":
                members = tables.dataset_files[ds]
                size = rng.choice((100, 200))
                after = members[min(len(members) - 1,
                                    rng.randrange(PAGES) * size)]
                out.append(_query(
                    kind, f"files from {ds}",
                    f"{sel}{ACTIVE} and {member(ds)} and id > '{after}' "
                    f"order by id limit {size}",
                    after_id=after, page_size=size))
            elif kind == "count":
                pm, ps = _pred(rng)
                out.append(_query(
                    kind, f"files from {ds} where {pm}",
                    f"select count(*) as count, cast(sum(size) as bigint) "
                    f"as total_size from files where {ACTIVE} and "
                    f"{member(ds)} and {ps}",
                    oracle="count", summary="count"))
            elif kind == "parents":
                lo = rng.choice((0, 100, 200, 300))
                out.append(_query(
                    kind,
                    f"parents(files from {ds} where core.run in "
                    f"{lo}:{lo + 40})",
                    f"{sel}id in (select parent_id from parent_child "
                    f"where child_id in ({sel}{ACTIVE} and {member(ds)} "
                    f"and m_core_run between {lo} and {lo + 40}))"))
            else:
                d2, d3 = datasets.pick(), datasets.pick()
                out.append(_query(
                    kind,
                    f"union(files from {ds}, files from {d2}) "
                    f"- files from {d3}",
                    f"{sel}{ACTIVE} and ({member(ds)} or {member(d2)}) "
                    f"and not {member(d3)}"))
    return out[:n]


def repeat_share(requests) -> float:
    """Share of requests that exactly repeat an earlier one."""
    keys = [r.key for r in requests]
    return 1.0 - len(set(keys)) / len(keys) if keys else 0.0


@dataclass
class WriteOp:
    kind: str
    path: str
    params: dict
    body: bytes
    dataset: Optional[str] = None   # dataset whose count it grows
    grows_by: int = 0
    declared: list = field(default_factory=list)   # declared records


def write_ops(seed: int, n_cycles: int, batch: int = 20) -> list[WriteOp]:
    """The writer's seeded DML sequence: ``n_cycles`` of WRITE_CYCLE.
    Every op touches files the same cycle declared, so the sequence is
    valid whatever the base catalog holds."""
    rng = random.Random(seed * 7919 + 1)
    ops: list[WriteOp] = []
    for c in range(n_cycles):
        target = rng.choice(WRITABLE)
        other = rng.choice([d for d in WRITABLE if d != target])
        recs = [{"id": f"w{seed % 10000:04d}c{c:05d}n{k:03d}",
                 "namespace": "dune",
                 "name": f"bench_{seed}_{c}_{k}.data",
                 "size": rng.randrange(1, 10**9),
                 "metadata": {"core.run": rng.randrange(500),
                              "core.x": round(rng.uniform(0, 1), 3),
                              "core.good": rng.random() < 0.5}}
                for k in range(batch)]
        picks = rng.sample(range(batch), len(WRITE_CYCLE) - 1)
        for kind in WRITE_CYCLE:
            if kind == "declare":
                ops.append(WriteOp(kind, "/data/declare_files",
                                   {"dataset": target},
                                   json.dumps(recs).encode(), target,
                                   batch, recs))
            elif kind == "update":
                r = recs[picks.pop()]
                meta = {"core.run": r["metadata"]["core.run"],
                        "core.x": round(rng.uniform(0, 1), 3)}
                ops.append(WriteOp(kind, "/data/update_file_meta",
                                   {"fid": r["id"]},
                                   json.dumps({"metadata": meta}).encode()))
            elif kind == "add":
                r = recs[picks.pop()]
                ops.append(WriteOp(kind, "/data/add_files",
                                   {"dataset": other},
                                   json.dumps([r["id"]]).encode(),
                                   other, 1))
            else:
                r = recs[picks.pop()]
                ops.append(WriteOp(kind, "/data/retire_file",
                                   {"fid": r["id"]}, b""))
    return ops


def read_picks(seed: int, n: int) -> list[float]:
    """Seeded choice, in [0, 1), of the files the write_mix reader reads
    back after each of ``n`` writes."""
    rng = random.Random(seed * 104729)
    return [rng.random() for _ in range(n)]
