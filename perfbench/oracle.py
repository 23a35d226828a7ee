"""Output checks: DuckDB answers over the same source parquet, built
through metacat_spark.fixtures so both sides share one table mapping.
The mapped tables are materialized once per run, so each distinct
request costs one small query."""

from __future__ import annotations

import json
import os

import duckdb

from metacat_spark import fixtures as FX


CORPUS_TABLES = ("documents", "embeddings", "events")


class Oracle:
    def __init__(self, root: str, corpus_root=None):
        self.con = duckdb.connect()
        tables = [(t, root) for t in ("lineitem", "orders")]
        if corpus_root:
            tables += [(t, corpus_root) for t in CORPUS_TABLES]
        for t, base in tables:
            path = os.path.join(base, f"{t}.parquet")
            self.con.execute(f"create view {t} as select * from "
                             f"read_parquet('{path}')")
        for name, sql in (("files", FX.files_sql(FX.DUCK)),
                          ("files_datasets", FX.files_datasets_sql(FX.DUCK)),
                          ("parent_child", FX.parent_child_sql(FX.DUCK))):
            self.con.execute(f"create table {name} as {sql}")

    def close(self) -> None:
        self.con.close()

    def expected(self, oracle: tuple):
        kind, sql, limit = oracle
        rows = self.con.execute(sql).fetchall()
        if kind == "count":
            return tuple(rows[0])
        return frozenset(r[0] for r in rows)

    def rows(self, sql: str) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql).fetchall()]


def response_ids(path: str, body: bytes) -> list[str]:
    """File ids in a /data/file JSON record or a json-seq stream."""
    if path == "/data/file":
        return [json.loads(body)["id"]]
    return [json.loads(f)["id"] for f in body.split(b"\x1e") if f.strip()]


def matches(oracle: tuple, result, expected) -> bool:
    """True when one read_mix result matches the oracle answer."""
    kind, _, limit = oracle
    if kind == "count":
        return tuple(result) == tuple(expected)
    if len(set(result)) != len(result):
        return False
    if kind == "subset":
        # an unordered limit may return any qualifying rows
        return len(result) == min(limit, len(expected)) \
            and set(result) <= expected
    return set(result) == expected


def same_rows(got, want, tol: float = 1e-3) -> bool:
    """Order-insensitive row equality; floats within ``tol``. Rows are
    paired by their non-float values, which are unique per row in every
    operator output checked here."""
    def key(r):
        return tuple(str(v) for v in r if not isinstance(v, float))
    got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(a) == len(b) and all(
            abs(x - y) <= tol if isinstance(x, float)
            and isinstance(y, (int, float)) else x == y
            for x, y in zip(a, b))
        for a, b in zip(got, want))
