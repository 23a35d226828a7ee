"""Served records: ``query_iter`` (on a catalog of one partition) and
``get_files`` fetch their result in one Arrow collect, ``query`` and
``get_file`` collect Rows, and every read class frames the json-seq
bytes the per-Row conversion framed, before and after writes, with the
driver in a zone off UTC."""

import dataclasses
import json

import pytest

import metacat_spark.client as C
from metacat_spark.client import MetaCatSparkClient

D, D2, D3 = "dune:urgent_0", "dune:urgent_1", "mc:flag_r"
# the dataset the writes below declare into
DS = "dune:urgent_2"
# the file-query read classes: (mql, query options)
QUERIES = {
    "pred": (f"files from {D} where core.run > 100 limit 10", {}),
    "page": (f"files from {D}", {"after_id": "f0", "page_size": 100}),
    "parents": (f"parents(files from {D} where core.run in 100:300)", {}),
    "setop": (f"union(files from {D}, files from {D2}) - files from {D3}",
              {}),
    "dataset": (f"files from {DS}", {}),
}
CLASSES = sorted([*QUERIES, "fids", "datasets", "get_file", "get_files"])
# declared with its checksums in this order (see _assert_same_wire)
SUMS = {"md5": "9e107d9d", "adler32": "0a2b3c4d"}


def _row_records(df) -> list:
    """The per-Row conversion the served reads used before the Arrow
    fetch: each Row streamed through ``toLocalIterator`` as a dict,
    its ``metadata`` JSON parsed."""
    out = []
    for r in df.toLocalIterator():
        d = r.asDict(recursive=True)
        if isinstance(d.get("metadata"), str):
            try:
                d["metadata"] = json.loads(d["metadata"])
            except ValueError:
                pass
        out.append(d)
    return out


def _frame(d: dict) -> bytes:
    return b"\x1e" + json.dumps(d, default=str).encode("utf-8") + b"\n"


def _assert_same_wire(new: list, old: list) -> None:
    """``new`` frames the bytes ``old`` frames, except that a map of
    several keys lists them in the order the table stores them, where
    a Row listed them in the JVM's hash order: the two records are
    then the same JSON value."""
    assert len(new) == len(old)
    for n, o in zip(new, old):
        if _frame(n) != _frame(o):
            assert len(n.get("checksums") or ()) > 1, (_frame(n), _frame(o))
            assert json.loads(_frame(n)[1:]) == json.loads(_frame(o)[1:])
            assert list(n["checksums"]) == list(SUMS)


def _reads(client: MetaCatSparkClient, ids: list, read: str):
    """Each variant of read class ``read`` of ``ids`` (file ids, the
    first by its did too): with and without metadata, and with and
    without provenance where the class takes it."""
    first = client.get_file(fid=ids[0], with_metadata=False)
    did = f"{first['namespace']}:{first['name']}"
    flags = [(m, p) for m in (False, True) for p in (False, True)]
    if read in QUERIES:
        mql, opts = QUERIES[read]
        return [lambda m=m, p=p: list(client.query_iter(
            mql, with_metadata=m, with_provenance=p, **opts))
            for m, p in flags]
    if read == "fids":
        return [lambda m=m, p=p: list(client.query_iter(
            "fids " + ", ".join(ids), with_metadata=m, with_provenance=p))
            for m, p in flags]
    if read == "datasets":
        return [lambda m=m: client.query("datasets matching dune:*",
                                         with_metadata=m)
                for m in (False, True)]
    if read == "get_file":
        return [lambda m=m, k=k, v=v: [client.get_file(**{k: v},
                                                       with_metadata=m)]
                for m in (False, True)
                for k, v in (("fid", ids[0]), ("did", did))]
    ns, name = did.split(":")
    specs = [{"fid": i} for i in ids[1:]] + [{"namespace": ns, "name": name}]
    return [lambda m=m, p=p: client.get_files(
        specs, with_metadata=m, with_provenance=p) for m, p in flags]


def _client(spark, cat):
    """A client of ``cat``, and the catalog's first two file ids."""
    ids = [r["id"] for r in cat.files.select("id").orderBy("id").limit(2)
           .collect()]
    return MetaCatSparkClient(spark, catalog=cat), ids


@pytest.fixture(scope="module")
def before(spark, catalog):
    """The session's unwritten fixture catalog, read only."""
    client, ids = _client(spark, catalog)
    yield client, ids
    client._pool.shutdown(wait=True)


@pytest.fixture(scope="module")
def after(spark, catalog):
    """A second catalog over the session catalog's state (a write
    publishes to it alone), after a declare (two files, one with a multi-key
    checksums map, parents and list and map metadata, one with nulls),
    an update and a retire: ``created_timestamp`` is then a
    ``TimestampType`` column and ``retired_timestamp`` is set."""
    client, (a, b) = _client(spark, dataclasses.replace(catalog))
    client.declare_files(DS, [
        {"id": "sr1", "namespace": "dune", "name": "sr1.dat", "size": 9,
         "checksums": SUMS, "parents": [a, b],
         "metadata": {"core.run": 150, "core.runs": [1, 2],
                      "x.map": {"b": 1, "a": [2.5, None]}}},
        {"id": "sr2", "namespace": "dune", "name": "sr2.dat"}])
    client.update_file_metadata(a, {"core.run": 7, "x.note": "é\n\""})
    client.retire_file(b)
    yield client, ["sr1", "sr2", a, b]
    client._pool.shutdown(wait=True)


@pytest.mark.parametrize("state", ["before", "after"])
@pytest.mark.parametrize("read", CLASSES)
def test_reads_frame_the_row_bytes(request, monkeypatch, non_utc_driver,
                                   state, read):
    """The records of every variant of ``read`` frame the same bytes
    as the per-Row conversion of the same DataFrame."""
    client, ids = request.getfixturevalue(state)
    fetched = []
    records = C._records
    monkeypatch.setattr(C, "_records", lambda df, *a: (
        fetched.append(df) or records(df, *a)))
    for run in _reads(client, ids, read):
        fetched.clear()
        new = run()
        [df] = fetched
        _assert_same_wire(new, _row_records(df))
        assert new, "the read found no record"


def test_after_state_covers_the_converted_types(spark, after,
                                                non_utc_driver):
    """The written catalog really holds what the comparison above
    needs to see: a TimestampType created_timestamp, a multi-key map,
    provenance arrays and nulls, and a set retired_timestamp (which no
    served read projects)."""
    from pyspark.sql import types as T
    client, [_, _, a, b] = after
    files = client.catalog.files
    assert isinstance(files.schema["created_timestamp"].dataType,
                      T.TimestampType)
    [sr1, sr2] = client.get_files([{"fid": "sr1"}, {"fid": "sr2"}],
                                  with_provenance=True)
    assert list(sr1["checksums"]) == list(SUMS)
    assert sorted(sr1["parents"]) == [a, b]
    assert sr1["metadata"]["x.map"] == {"b": 1, "a": [2.5, None]}
    assert sr2["checksums"] is None and sr2["parents"] is None
    assert files.where(f"id = '{b}'").first()["retired_timestamp"]
    # the stamps are the naive local times a Row holds
    [row] = files.where("id = 'sr1'").select("created_timestamp").collect()
    assert sr1["created_timestamp"] == row[0]
    assert sr1["created_timestamp"].tzinfo is None
