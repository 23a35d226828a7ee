"""Client facade tests (MetaCatClient-parity surface)."""

import json

import pytest

from metacat_spark.client import MetaCatSparkClient

from conftest import SF_DIR


@pytest.fixture(scope="module")
def client(spark):
    return MetaCatSparkClient(spark, SF_DIR)


def test_query_dicts(client):
    rows = client.query("files from dune:urgent_0 limit 5")
    assert len(rows) == 5
    assert {"id", "namespace", "name", "size"} <= set(rows[0])


def test_query_with_metadata(client):
    rows = client.query("files from dune:urgent_0 limit 2",
                        with_metadata=True)
    assert isinstance(rows[0]["metadata"], dict)
    assert "core.run" in rows[0]["metadata"]


def test_query_iter(client):
    it = client.query_iter("files from dune:urgent_0 ordered limit 7")
    got = [r["id"] for r in it]
    assert len(got) == 7 and got == sorted(got)


def test_query_iter_rejects_unknown_keywords(client):
    """query_iter takes query()'s keywords, so a misspelt one raises
    instead of being ignored."""
    with pytest.raises(TypeError):
        client.query_iter("files from dune:urgent_0", with_meta=True)
    rows = list(client.query_iter("files from dune:urgent_0 limit 2",
                                  with_metadata=True))
    assert len(rows) == 2 and isinstance(rows[0]["metadata"], dict)


def test_async_query(client):
    futs = [client.async_query(f"files from dune:urgent_{i} limit 3")
            for i in range(3)]
    results = [f.result(timeout=120) for f in futs]
    assert all(len(r) == 3 for r in results)


def test_get_file_and_datasets(client):
    row = client.query("files from test:all ordered limit 1")[0]
    by_fid = client.get_file(fid=row["id"])
    assert by_fid["name"] == row["name"]
    by_did = client.get_file(did=f"{row['namespace']}:{row['name']}")
    assert by_did["id"] == row["id"]
    ds = client.list_datasets("dune:urgent_*")
    assert len(ds) == 4


def test_query_save_as(spark):
    client = MetaCatSparkClient(spark, SF_DIR)
    direct = {r["id"] for r in client.query(
        "files from dune:urgent_2 where core.good = true")}
    client.query("files from dune:urgent_2 where core.good = true",
                 save_as="test:client_saved")
    saved = {r["id"] for r in client.query("files from test:client_saved")}
    assert saved == direct


def test_explain(client):
    out = client.explain("files from dune:urgent_0 where core.run > 5")
    assert "MQL AST" in out and "Spark plan" in out
    # explain takes the CLIENT surface's kwarg names, same as
    # query() (review r7: namespace= raised TypeError here while
    # working on query())
    out = client.explain("files from urgent_0", namespace="dune")
    assert "Spark plan" in out


def test_did_parse_errors(client):
    """Colon-less namespace:name inputs raise a message that names
    the expected format, not a bare tuple-unpack ValueError
    (review r7)."""
    import pytest
    for call in (lambda: client.get_file(did="myfile.dat"),
                 lambda: client.query("files from dune:urgent_0",
                                      save_as="nodashes"),
                 lambda: client.list_datasets("noseparator")):
        with pytest.raises(ValueError, match="namespace:name"):
            call()


def test_stream_json_seq(client):
    import io
    buf = io.StringIO()
    n = client.stream_json_seq("files from dune:urgent_0 limit 7", buf)
    assert n == 7
    recs = buf.getvalue().split("\x1e")
    assert recs[0] == ""                      # leading RS
    rows = [json.loads(r) for r in recs[1:]]
    assert len(rows) == 7 and all(r.endswith("\n") for r in recs[1:])
    assert all("id" in r for r in rows)


def test_client_update_file(client):
    fid = client.query("files from dune:urgent_0 limit 1")[0]["id"]
    client.update_file(fid, size=123456, checksums={"sha1": "ab"})
    got = client.get_file(fid=fid)
    assert got["size"] == 123456 and got["checksums"]["sha1"] == "ab"


def test_get_file_is_one_job(spark):
    """A point lookup collects its at most one row in one Spark job,
    even when the hit sits in the last partition (``first()`` scans
    partitions in growing rounds)."""
    from pyspark.sql import functions as F

    from metacat_spark.catalog import from_tpch
    from conftest import spark_jobs
    cat = from_tpch(spark, SF_DIR)
    cat.publish(files=cat.files.repartitionByRange(4, "id").localCheckpoint())
    assert cat.files.rdd.getNumPartitions() == 4
    last = cat.files.agg(F.max("id")).first()[0]
    client = MetaCatSparkClient(spark, catalog=cat)
    try:
        got = []
        jobs = spark_jobs(spark, lambda: got.append(client.get_file(last)))
    finally:
        client._pool.shutdown(wait=True)
    assert got[0]["id"] == last
    assert len(jobs) == 1, jobs
