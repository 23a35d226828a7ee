"""HTTP facade tests: the reference's /data/query surface
(webserver/data_handler.py:1266-1378) served over the Spark engine —
json-seq streaming, summaries, error contract, file lookup."""

import json
import re
import urllib.error
import urllib.parse
import urllib.request

import pytest

from metacat_spark.client import MetaCatSparkClient
from metacat_spark.server import start_server


@pytest.fixture(scope="module")
def served(spark, catalog):
    from tests.conftest import SF_DIR
    client = MetaCatSparkClient(spark, catalog=catalog)
    # data_root gates /data/corpus?test= reads to the fixture subtree
    srv, port = start_server(client, data_root=SF_DIR)
    yield f"http://127.0.0.1:{port}", client
    srv.shutdown()


def _get(base, path, **params):
    qs = urllib.parse.urlencode(params)
    return urllib.request.urlopen(f"{base}{path}?{qs}", timeout=600)


def _json_seq(resp):
    out = []
    for frame in resp.read().decode("utf-8").split("\x1e"):
        frame = frame.strip()
        if frame:
            out.append(json.loads(frame))
    return out


def test_query_json_seq_stream(served):
    base, client = served
    resp = _get(base, "/data/query",
                query="files from dune:urgent_0 where core.run > 250")
    assert resp.headers["Content-Type"] == "application/json-seq"
    rows = _json_seq(resp)
    want = client.query("files from dune:urgent_0 where core.run > 250")
    assert len(rows) == len(want) > 0
    assert {r["id"] for r in rows} == {w["id"] for w in want}


def test_query_post_body(served):
    base, _ = served
    req = urllib.request.Request(
        f"{base}/data/query",
        data=b"files from dune:urgent_0 limit 5", method="POST")
    rows = _json_seq(urllib.request.urlopen(req, timeout=600))
    assert len(rows) == 5


def test_query_with_meta(served):
    base, _ = served
    resp = _get(base, "/data/query",
                query="files from dune:urgent_0 limit 3", with_meta="yes")
    rows = _json_seq(resp)
    assert rows and all(isinstance(r["metadata"], dict) for r in rows)
    assert "core.run" in rows[0]["metadata"]


def test_query_with_provenance(served):
    base, _ = served
    rows = _json_seq(_get(
        base, "/data/query",
        query="parents(files from test:all where core.run in 10:20) "
              "limit 5",
        with_provenance="yes"))
    assert rows and all("children" in r and "parents" in r for r in rows)


def test_dataset_query_streams(served):
    base, _ = served
    rows = _json_seq(_get(base, "/data/query",
                          query="datasets matching dune:urgent_*"))
    assert {r["name"] for r in rows} >= {"urgent_0", "urgent_1"}


def test_summary_count(served):
    base, client = served
    resp = _get(base, "/data/query", query="files from test:all",
                summary="count")
    assert resp.headers["Content-Type"] == "application/json"
    got = json.loads(resp.read())
    want = client.query("files from test:all", summary="count")[0]
    assert got["count"] == want["count"] > 0
    assert got["total_size"] == want["total_size"]


def test_summary_keys(served):
    base, _ = served
    got = json.loads(_get(base, "/data/query", query="files from test:all",
                          summary="keys").read())
    assert "core.run" in got and got == sorted(got)


def test_explain_endpoint(served):
    base, _ = served
    text = _get(base, "/data/query",
                query="files from dune:urgent_0 where core.run > 5",
                explain="yes").read().decode()
    assert "MQL AST" in text and "Spark plan" in text
    # the one SQL statement the query compiled to, between the two
    sql = text.split("-- Spark SQL --\n", 1)[1].split("-- Spark plan --")[0]
    assert sql.startswith("SELECT ") and "`m_core_run` > 5" in sql, text
    # the fixture catalog's files are resident: the predicate filters
    # the cached rows instead of pushing down into a parquet scan
    assert "Scan ExistingRDD" in text
    assert re.search(r"m_core_run#\d+ > 5", text), text


def test_bad_mql_is_400(served):
    base, _ = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/query", query="files frum nowhere !!!")
    assert e.value.code == 400
    assert b":" in e.value.read()  # ExceptionName: message


def test_bad_summary_is_400(served):
    base, _ = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/query", query="files from test:all",
             summary="bogus")
    assert e.value.code == 400


def test_empty_query_returns_empty_list(served):
    base, _ = served
    got = json.loads(_get(base, "/data/query", query="").read())
    assert got == []


def test_file_lookup(served):
    base, client = served
    some = client.query("files from test:all ordered limit 1")[0]
    rec = json.loads(_get(base, "/data/file", fid=some["id"]).read())
    assert rec["id"] == some["id"] and "checksums" in rec
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/file", fid="f_does_not_exist")
    assert e.value.code == 404


def test_datasets_endpoint(served):
    base, _ = served
    rows = json.loads(_get(base, "/data/datasets",
                           pattern="dune:urgent_*").read())
    assert {r["name"] for r in rows} >= {"urgent_0", "urgent_1"}


def test_concurrent_requests(served):
    """Concurrent queries share one SparkSession under the FAIR
    scheduler — a slow streaming scan must not starve point work."""
    from concurrent.futures import ThreadPoolExecutor

    base, _ = served
    jobs = [("/data/query", {"query": "files from dune:urgent_0 "
                                      "where core.run > 100"}),
            ("/data/query", {"query": "files from test:all",
                             "summary": "count"}),
            ("/data/datasets", {"pattern": "dune:*"}),
            ("/data/query", {"query": "files from mc:flag_r limit 20"})]
    with ThreadPoolExecutor(4) as pool:
        outs = list(pool.map(
            lambda j: _get(base, j[0], **j[1]).read(), jobs))
    assert all(len(o) > 0 for o in outs)
    assert json.loads(outs[1])["count"] > 0


def test_dataset_record_with_count(served):
    base, client = served
    rec = json.loads(_get(base, "/data/dataset", dataset="dune:urgent_0",
                          exact_file_count="yes").read())
    assert rec["name"] == "urgent_0"
    want = client.query("files from dune:urgent_0")
    assert rec["file_count"] == len(want) > 0
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/dataset", dataset="no:such_ds")
    assert e.value.code == 404


def test_dataset_files_and_namespaces(served):
    base, client = served
    rows = _json_seq(_get(base, "/data/dataset_files",
                          dataset="dune:urgent_0"))
    want = client.query("files from dune:urgent_0")
    assert len(rows) == len(want) > 0
    ns = json.loads(_get(base, "/data/namespaces").read())
    assert {r["name"] for r in ns} >= {"dune", "mc", "test"}
    v = json.loads(_get(base, "/data/version").read())
    assert v["engine"] == "metacat_spark"
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/dataset_files", dataset="nocolon")
    assert e.value.code == 400


def test_dataset_files_cursor_paging(served):
    """after_id/page_size cursor over HTTP: pages are id-ordered,
    disjoint, and reconstruct the full set."""
    base, client = served
    want = sorted(r["id"] for r in
                  client.query("files from dune:urgent_0"))
    got, cursor = [], None
    while True:
        params = {"dataset": "dune:urgent_0", "page_size": 200}
        if cursor:
            params["after_id"] = cursor
        rows = _json_seq(_get(base, "/data/dataset_files", **params))
        if not rows:
            break
        ids = [r["id"] for r in rows]
        assert ids == sorted(ids) and len(ids) <= 200
        got.extend(ids)
        cursor = ids[-1]
    assert got == want


def test_datasets_for_files(served):
    base, client = served
    some = client.query("files from dune:urgent_0 ordered limit 2")
    fids = ",".join(r["id"] for r in some)
    out = json.loads(_get(base, "/data/datasets_for_files",
                          fids=fids).read())
    assert set(out) == {r["id"] for r in some}
    assert all("dune:urgent_0" in v for v in out.values())


@pytest.fixture(scope="module")
def served_rw(spark):
    """Separate server over its OWN catalog — the write path mutates
    catalog state and must not touch the shared read fixture."""
    from tests.conftest import SF_DIR

    from metacat_spark.catalog import from_tpch
    client = MetaCatSparkClient(spark, catalog=from_tpch(spark, SF_DIR))
    srv, port = start_server(client)
    yield f"http://127.0.0.1:{port}", client
    srv.shutdown()


def _post(base, path, body, **params):
    qs = urllib.parse.urlencode(params)
    req = urllib.request.Request(
        f"{base}{path}?{qs}", data=json.dumps(body).encode(),
        method="POST")
    return json.loads(urllib.request.urlopen(req, timeout=600).read())


def test_write_path_declare_update_retire(served_rw):
    base, client = served_rw
    rows = [{"id": "http_f1", "namespace": "test",
             "name": "http_file_1.data", "size": 123,
             "metadata": {"core.run": 9001}},
            {"id": "http_f2", "namespace": "test",
             "name": "http_file_2.data", "size": 456,
             "metadata": {"core.run": 9002}}]
    out = _post(base, "/data/declare_files", rows, dataset="test:all")
    assert out == {"declared": 2}
    rec = json.loads(_get(base, "/data/file", fid="http_f1").read())
    assert rec["size"] == 123 and rec["metadata"]["core.run"] == 9001

    out = _post(base, "/data/update_file_meta",
                {"metadata": {"core.run": 9111}, "mode": "update"},
                fid="http_f1")
    assert out == {"updated": "http_f1"}
    rec = json.loads(_get(base, "/data/file", fid="http_f1").read())
    assert rec["metadata"]["core.run"] == 9111

    out = _post(base, "/data/retire_file", {}, fid="http_f2")
    assert out == {"retired": "http_f2"}
    rec = json.loads(_get(base, "/data/file", fid="http_f2").read())
    assert rec["retired"] is True

    # DML errors surface as the 400 contract (duplicate declare)
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base, "/data/declare_files", rows)
    assert e.value.code == 400


def test_write_path_dataset_workflow(served_rw):
    base, client = served_rw
    out = _post(base, "/data/create_dataset",
                {"description": "made over http"},
                dataset="test:http_ds")
    assert out == {"created": "test:http_ds"}
    some = client.query("files from dune:urgent_0 ordered limit 3")
    out = _post(base, "/data/add_files",
                [r["id"] for r in some], dataset="test:http_ds")
    assert out == {"added": 3}
    rows = _json_seq(_get(base, "/data/query",
                          query="files from test:http_ds"))
    assert {r["id"] for r in rows} == {r["id"] for r in some}
    # duplicate create → 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base, "/data/create_dataset", {}, dataset="test:http_ds")
    assert e.value.code == 400

    # remove one member, update dataset flags; frozen blocks removal
    gone = some[0]["id"]
    out = _post(base, "/data/remove_files", [gone],
                dataset="test:http_ds")
    assert out == {"removed": 1}
    rows = _json_seq(_get(base, "/data/query",
                          query="files from test:http_ds"))
    assert gone not in {r["id"] for r in rows} and len(rows) == 2
    _post(base, "/data/update_dataset", {"frozen": True},
          dataset="test:http_ds")
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base, "/data/remove_files", [some[1]["id"]],
              dataset="test:http_ds")
    assert e.value.code == 400


def test_files_batch_lookup(served):
    base, client = served
    some = client.query("files from dune:urgent_0 ordered limit 3")
    specs = [{"fid": some[0]["id"]},
             f"{some[1]['namespace']}:{some[1]['name']}",
             some[2]["id"]]
    rows = _post(base, "/data/files", specs, with_metadata="yes",
                 with_provenance="yes")
    assert {r["id"] for r in rows} == {r["id"] for r in some}
    assert all(isinstance(r["metadata"], dict) for r in rows)
    assert all("parents" in r and "children" in r for r in rows)
    # without metadata the column is absent, like the reference
    rows = _post(base, "/data/files", [{"fid": some[0]["id"]}])
    assert rows and "metadata" not in rows[0]


def test_update_and_delete_file(served_rw):
    base, client = served_rw
    _post(base, "/data/declare_files",
          [{"id": "http_ud1", "namespace": "test",
            "name": "http_ud1.data", "size": 1}])
    out = _post(base, "/data/update_file",
                {"size": 777, "checksums": {"adler32": "cafef00d"}},
                fid="http_ud1")
    assert out == {"updated": "http_ud1"}
    rec = json.loads(_get(base, "/data/file", fid="http_ud1").read())
    assert rec["size"] == 777
    assert rec["checksums"]["adler32"] == "cafef00d"

    out = _post(base, "/data/delete_file", {}, fid="http_ud1")
    assert out == {"fid": "http_ud1"}
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/file", fid="http_ud1")
    assert e.value.code == 404
    # deleting again → 404 (reference "File not found")
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base, "/data/delete_file", {}, fid="http_ud1")
    assert e.value.code == 404


def test_move_files_endpoint(served_rw):
    base, client = served_rw
    _post(base, "/data/declare_files",
          [{"id": "http_mv1", "namespace": "test",
            "name": "http_mv1.data", "size": 1}])
    out = _post(base, "/data/move_files", ["http_mv1"],
                namespace="dune")
    assert out == {"moved": 1, "namespace": "dune"}
    rec = json.loads(_get(base, "/data/file", fid="http_mv1").read())
    assert rec["namespace"] == "dune"


def test_remove_dataset_and_add_child(served_rw):
    base, client = served_rw
    _post(base, "/data/create_dataset", {}, dataset="test:http_parent")
    _post(base, "/data/create_dataset", {}, dataset="test:http_child")
    out = _post(base, "/data/add_child_dataset", {},
                parent="test:http_parent", child="test:http_child")
    assert out == {"parent": "test:http_parent",
                   "child": "test:http_child"}
    rows = _json_seq(_get(
        base, "/data/query",
        query="datasets test:http_parent with subsets"))
    assert {r["name"] for r in rows} == {"http_parent", "http_child"}

    out = _post(base, "/data/remove_dataset", {},
                dataset="test:http_child")
    assert out == {"removed": "test:http_child"}
    rows = _json_seq(_get(
        base, "/data/query",
        query="datasets test:http_parent with subsets"))
    assert {r["name"] for r in rows} == {"http_parent"}
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base, "/data/remove_dataset", {},
              dataset="test:http_child")
    assert e.value.code == 400


def test_create_namespace_endpoint(served_rw):
    base, _ = served_rw
    out = _post(base, "/data/create_namespace", {},
                name="http_ns", owner="tester")
    assert out == {"created": "http_ns"}
    ns = json.loads(_get(base, "/data/namespaces").read())
    mine = [r for r in ns if r["name"] == "http_ns"]
    assert mine and mine[0]["owner_user"] == "tester"
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base, "/data/create_namespace", {}, name="http_ns")
    assert e.value.code == 400


def test_named_query_crud_and_search(served_rw):
    base, client = served_rw
    body = {"namespace": "test", "name": "http_nq",
            "source": "files from dune:urgent_0 where core.run > 100",
            "description": "made over http"}
    out = _post(base, "/data/create_named_query", body)
    assert out["name"] == "http_nq"
    # duplicate without update=yes → 409 like the reference
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base, "/data/create_named_query", body)
    assert e.value.code == 409
    # update=yes replaces the source
    body["source"] = "files from dune:urgent_0 where core.run > 200"
    _post(base, "/data/create_named_query", body, update="yes")
    rec = json.loads(_get(base, "/data/named_query",
                          query="test:http_nq").read())
    assert rec["source"].endswith("core.run > 200")
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/named_query", query="test:no_such_q")
    assert e.value.code == 404

    rows = json.loads(_get(base, "/data/named_queries",
                           namespace="test").read())
    assert "http_nq" in {r["name"] for r in rows}
    assert all(r["namespace"] == "test" for r in rows)

    # the saved query resolves through the engine
    got = _json_seq(_get(base, "/data/query",
                         query="files selected by test:http_nq"))
    want = client.query("files from dune:urgent_0 "
                        "where core.run > 200")
    assert {r["id"] for r in got} == {w["id"] for w in want}

    # query-query search streams json-seq; non-query MQL is rejected
    resp = _get(base, "/data/search_queries",
                query="queries matching test:http_*")
    assert resp.headers["Content-Type"] == "application/json-seq"
    rows = _json_seq(resp)
    assert "http_nq" in {r["name"] for r in rows}
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/search_queries", query="files from test:all")
    assert e.value.code == 400


def test_categories_endpoints(served):
    base, _ = served
    rows = json.loads(_get(base, "/data/categories").read())
    assert {r["path"] for r in rows} >= {"core", "data"}
    assert all(isinstance(r["definitions"], dict) for r in rows)
    one = json.loads(urllib.request.urlopen(
        f"{base}/data/category?path=core", timeout=600).read())
    assert one["path"] == "core"
    missing = json.loads(urllib.request.urlopen(
        f"{base}/data/category?path=no_such", timeout=600).read())
    assert missing is None


def test_unknown_endpoint_404(served):
    base, _ = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/nope")
    assert e.value.code == 404


def test_corpus_quality_endpoint(served):
    base, _ = served
    resp = _get(base, "/data/corpus", op="quality", limit=4)
    assert resp.headers["Content-Type"] == "application/json-seq"
    rows = _json_seq(resp)
    assert len(rows) == 4
    assert {"doc_id", "quality", "dup_ngram_frac",
            "top_ngram_frac"} <= set(rows[0])


def test_corpus_pack_and_mixture_endpoints(served):
    base, _ = served
    rows = _json_seq(_get(base, "/data/corpus", op="pack",
                          max_tokens=64, limit=5))
    assert rows and all(r["n_tok"] <= 64 for r in rows)
    rows = _json_seq(_get(base, "/data/corpus", op="mixture",
                          target="en=0.6,de=0.2,fr=0.2", limit=5))
    assert rows and all(r["lang"] in ("en", "de", "fr") for r in rows)


def test_corpus_search_hybrid_dsir_endpoints(served):
    """r9 retrieval + DSIR reach the HTTP surface through the shared
    registry with the registry defaults (k=10 etc.)."""
    base, _ = served
    rows = _json_seq(_get(base, "/data/corpus", op="search",
                          query="spark window"))
    assert len(rows) == 10
    assert {"doc_id", "n_tokens", "score", "rank"} <= set(rows[0])
    assert [r["rank"] for r in rows] == list(range(1, 11))
    rows = _json_seq(_get(base, "/data/corpus", op="hybrid",
                          query="spark window", vec=0, k=5))
    assert len(rows) == 5
    assert {"doc_id", "kw_rank", "vec_rank", "rrf",
            "rank"} <= set(rows[0])
    from tests.conftest import SF_DIR
    rows = _json_seq(_get(base, "/data/corpus", op="dsir",
                          target=f"{SF_DIR}/documents.parquet",
                          m=5))
    assert len(rows) == 5
    # raw == target: every importance weight is exactly 0
    assert all(r["dsir_logw"] == 0.0 for r in rows)
    # missing required params are clean 400s, not server errors
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="search")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="hybrid", query="spark")
    assert e.value.code == 400
    # batched serving without an index is the same clean 400 (r12)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="search", queries="a:spark")
    assert e.value.code == 400
    # --ingest writes an index to a caller-supplied path: CLI only
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="search",
             ingest=f"{SF_DIR}/documents.parquet",
             index=f"{SF_DIR}/whatever")
    assert e.value.code == 403


def test_corpus_search_queries_batch_endpoint(spark, catalog,
                                              tmp_path):
    """Batched index serving over HTTP (r12): queries= serves the
    whole batch from a stored index in one plan; rows equal the
    per-query serve from the same index."""
    from metacat_spark.client import MetaCatSparkClient
    from metacat_spark.llm.search import build_text_index
    from metacat_spark.server import start_server
    ipath = str(tmp_path / "kw_idx")
    build_text_index(catalog.raw["documents"]).write.parquet(ipath)
    client = MetaCatSparkClient(spark, catalog=catalog)
    srv, port = start_server(client, data_root=str(tmp_path))
    base = f"http://127.0.0.1:{port}"
    try:
        rows = _json_seq(_get(base, "/data/corpus", op="search",
                              index=ipath,
                              queries="a:spark window;b:merge", k=5))
        assert {r["query_id"] for r in rows} == {"a", "b"}
        single = _json_seq(_get(base, "/data/corpus", op="search",
                                index=ipath, query="spark window",
                                k=5))
        a_rows = [{k: v for k, v in r.items() if k != "query_id"}
                  for r in sorted((r for r in rows
                                   if r["query_id"] == "a"),
                                  key=lambda r: r["rank"])]
        assert a_rows == single
        # malformed batch items are clean 400s
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base, "/data/corpus", op="search", index=ipath,
                 queries="nocolon")
        assert e.value.code == 400
    finally:
        srv.shutdown()


def test_corpus_hybrid_stream_endpoint_and_jail(served):
    """Streaming hybrid retrieval over HTTP through the shared
    registry; stream source paths (src=, vecsrc=) go through the
    SAME --data-root jail as secondary corpora."""
    base, _ = served
    from tests.conftest import SF_DIR
    rows = _json_seq(_get(base, "/data/corpus", op="hybrid-stream",
                          query="spark window", vec=0, n=20, k=5,
                          src=f"{SF_DIR}/documents.parquet",
                          vecsrc=f"{SF_DIR}/embeddings.parquet"))
    assert len(rows) == 5
    assert {"doc_id", "kw_rank", "vec_rank", "rrf",
            "rank"} <= set(rows[0])
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="hybrid-stream",
             query="spark", vec=0, src="/etc/passwd",
             vecsrc=f"{SF_DIR}/embeddings.parquet")
    assert e.value.code == 403
    # sink= writes a caller-supplied path: CLI only (r12) — the
    # HTTP surface refuses with 403 even inside the data root
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="hybrid-stream",
             query="spark", vec=0,
             src=f"{SF_DIR}/documents.parquet",
             vecsrc=f"{SF_DIR}/embeddings.parquet",
             sink=f"{SF_DIR}/whatever")
    assert e.value.code == 403


def test_corpus_train_bpe_endpoints(served):
    base, _ = served
    rows = _json_seq(_get(base, "/data/corpus", op="train",
                          label="source", pos="src0", steps=2,
                          buckets=32))
    assert rows and {"f", "weight"} <= set(rows[0])
    rows = _json_seq(_get(base, "/data/corpus", op="bpe", merges=5))
    assert len(rows) == 5 and rows[0]["step"] == 1
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="train", label="source")
    assert e.value.code == 400  # missing pos=


def test_corpus_bad_op_is_400(served):
    base, _ = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="nope")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="mixture")  # missing target
    assert e.value.code == 400


def test_corpus_report_select_lm_endpoints(served):
    base, _ = served
    rows = _json_seq(_get(base, "/data/corpus", op="report"))
    assert rows and {"source", "n_docs", "n_tokens", "avg_quality",
                     "n_exact_dups"} <= set(rows[0])
    rows = _json_seq(_get(base, "/data/corpus", op="select",
                          budget=2000))
    assert rows and all(r["cum_tok"] <= 2000 for r in rows)
    rows = _json_seq(_get(base, "/data/corpus", op="lm",
                          method="bigram", limit=5))
    assert rows and {"id", "avg_logprob", "n_bigrams"} <= set(rows[0])
    rows = _json_seq(_get(base, "/data/corpus", op="semdedup",
                          threshold=0.35, limit=5))
    assert rows and {"doc_id", "text"} <= set(rows[0])
    rows = _json_seq(_get(base, "/data/corpus", op="stats"))
    assert len(rows) == 1 and rows[0]["n_tokens"] > 0
    assert 0 < rows[0]["type_token_ratio"] < 1
    from tests.conftest import SF_DIR
    rows = _json_seq(_get(base, "/data/corpus", op="divergence",
                          test=f"{SF_DIR}/documents.parquet"))
    # corpus vs itself: JS divergence exactly 0
    assert len(rows) == 1 and rows[0]["js_divergence"] == 0.0
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="select")  # missing budget
    assert e.value.code == 400


def test_corpus_contamination_and_ann_endpoints(served):
    from tests.conftest import SF_DIR
    base, _ = served
    # served docs checked against themselves: fully contaminated
    rows = _json_seq(_get(base, "/data/corpus", op="contamination",
                          test=f"{SF_DIR}/documents.parquet",
                          method="exact", limit=3))
    assert rows and all(r["test_id"] == r["train_id"] for r in rows)
    rows = _json_seq(_get(base, "/data/corpus", op="contamination",
                          test=f"{SF_DIR}/documents.parquet",
                          method="containment", threshold=0.9,
                          limit=3))
    assert rows and all(r["containment"] >= 0.9 for r in rows)
    rows = _json_seq(_get(base, "/data/corpus", op="decontaminate",
                          test=f"{SF_DIR}/documents.parquet",
                          method="exact", limit=3))
    # self-decontamination: every doc matches itself ⇒ empty corpus
    assert rows == []
    rows = _json_seq(_get(base, "/data/corpus", op="ann",
                          method="gemm", k=2, limit=4))
    assert rows and {"id", "neighbor_id", "cosine",
                     "rank"} <= set(rows[0])
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/corpus", op="contamination")  # missing test=
    assert e.value.code == 400


def test_server_ann_retire_compact_and_task_errors(spark, catalog,
                                                   tmp_path):
    """Index-lifecycle verbs over HTTP (VERDICT r10 #5) — retire
    returns tombstone rows, compact returns the rewritten table
    (the operator persists them; HTTP corpus ops never write) — and
    the in-task rerank-without-vectors ValueError maps to a clean
    400 instead of an opaque PythonException (ADVICE r10)."""
    from metacat_spark.llm.similarity import (build_ivfpq_index,
                                              encode_ivfpq)
    idx_df = build_ivfpq_index(
        catalog.raw["embeddings"], n_lists=8, m=8, n_codes=16,
        train_iters=1)
    ipath = str(tmp_path / "srv_idx")
    idx_df.write.parquet(ipath)
    ppath = str(tmp_path / "srv_postings")
    encode_ivfpq(catalog.raw["embeddings"],
                 spark.read.parquet(ipath),
                 keep_vectors=False).write.parquet(ppath)
    client = MetaCatSparkClient(spark, catalog=catalog)
    srv, port = start_server(client, data_root=str(tmp_path))
    base = f"http://127.0.0.1:{port}"
    try:
        rows = _json_seq(_get(base, "/data/corpus", op="ann",
                              method="ivfpq", retire="0,1",
                              postings=ppath, limit=10))
        assert len(rows) == 2
        assert all(r["codes"] is None and r["vec"] is None
                   for r in rows)
        rows = _json_seq(_get(base, "/data/corpus", op="ann",
                              method="ivfpq", compact=1,
                              postings=ppath, limit=10))
        assert rows and all(r["codes"] is not None for r in rows)
        # codes-only postings + default rerank: the in-task check is
        # translated to the 400 contract with the library's message
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base, "/data/corpus", op="ann", method="ivfpq",
                 index=ipath, postings=ppath, k=3, limit=5)
        assert e.value.code == 400
        body = e.value.read().decode()
        assert "rerank=True" in body and "Traceback" not in body
        # ... and rerank=0 serves them
        rows = _json_seq(_get(base, "/data/corpus", op="ann",
                              method="ivfpq", index=ipath,
                              postings=ppath, k=3, rerank=0,
                              limit=5))
        assert rows and {"id", "neighbor_id", "cosine",
                         "rank"} <= set(rows[0])
        # verb misuse over HTTP is the same clean 400
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base, "/data/corpus", op="ann", method="ivfpq",
                 retire="1", compact=1, postings=ppath)
        assert e.value.code == 400
        # --ingest writes a caller-supplied path: CLI only — the
        # HTTP surface refuses with 403 even inside the data root
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base, "/data/corpus", op="ann", method="ivfpq",
                 ingest=str(tmp_path / "whatever"), index=ipath,
                 postings=str(tmp_path / "dest"))
        assert e.value.code == 403
    finally:
        srv.shutdown()


def test_corpus_contamination_path_jail(served, spark, catalog):
    """The test= parameter is a filesystem path from an untrusted HTTP
    client (ADVICE r4): anything outside the configured --data-root is
    refused, traversal sequences don't escape, and a server started
    WITHOUT a data root refuses every path."""
    from tests.conftest import SF_DIR
    base, _ = served
    for evil in ("/etc/passwd",
                 f"{SF_DIR}/../../etc",
                 f"{SF_DIR}/../sf0.01/documents.parquet"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base, "/data/corpus", op="contamination",
                 test=evil, method="exact")
        assert e.value.code == 403, evil
        assert "PermissionError" in e.value.read().decode()
    # default server: no data_root ⇒ no path reads at all
    client = MetaCatSparkClient(spark, catalog=catalog)
    srv, port = start_server(client)
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"http://127.0.0.1:{port}", "/data/corpus",
                 op="contamination",
                 test=f"{SF_DIR}/documents.parquet", method="exact")
        assert e.value.code == 403
    finally:
        srv.shutdown()


def test_corpus_split_scrub_substring_endpoints(served):
    base, _ = served
    rows = _json_seq(_get(base, "/data/corpus", op="split", limit=6))
    assert len(rows) == 6
    assert all(r["split"] in ("train", "val", "test") for r in rows)
    rows = _json_seq(_get(base, "/data/corpus", op="substring",
                          limit=4))
    assert rows and all(r["span_end"] - r["span_start"]
                        == r["span_tokens"] for r in rows)
    rows = _json_seq(_get(base, "/data/corpus", op="scrub", limit=4))
    assert rows and all(r["n_tok_after"] <= r["n_tok_before"]
                        for r in rows)


def test_corpus_gate_c4_endpoints(served):
    base, _ = served
    rows = _json_seq(_get(base, "/data/corpus", op="gate", limit=3))
    assert len(rows) == 3 and all("gopher_pass" in r for r in rows)
    rows = _json_seq(_get(base, "/data/corpus", op="c4", limit=3))
    assert rows and all(r["n_lines_after"] <= r["n_lines_before"]
                        for r in rows)


def test_corpus_curate_endpoint(served):
    base, _ = served
    rows = _json_seq(_get(base, "/data/corpus", op="curate", v2=1,
                          limit=3))
    assert rows and all(r["n_tok_after"] > 0 for r in rows)


def test_events_endpoints(served):
    base, _ = served
    rows = _json_seq(_get(base, "/data/events", op="funnel",
                          horizon=86400, limit=5))
    assert rows and all("t3" in r for r in rows)
    rows = _json_seq(_get(base, "/data/events", op="retention",
                          limit=4))
    assert rows and all("week_offset" in r for r in rows)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/events", op="nope")
    assert e.value.code == 400


def test_data_row_cap(served):
    """No limit param → the server applies DATA_ROW_CAP_DEFAULT; an
    explicit limit clamps to DATA_ROW_HARD_CAP (VERDICT r5 #8: an
    unbounded corpus op must not stream a whole table through one
    HTTP response)."""
    from metacat_spark import server as SV
    base, _ = served
    # analyze emits one row per document (> default cap would need a
    # huge corpus; just assert the cap is wired, not the corpus size)
    rows = _json_seq(_get(base, "/data/corpus", op="analyze"))
    assert 0 < len(rows) <= SV.DATA_ROW_CAP_DEFAULT
    rows = _json_seq(_get(base, "/data/events", op="windowed"))
    assert 0 < len(rows) <= SV.DATA_ROW_CAP_DEFAULT
    # explicit limit still honored
    rows = _json_seq(_get(base, "/data/corpus", op="analyze", limit=2))
    assert len(rows) == 2
    assert SV._row_cap(None) == SV.DATA_ROW_CAP_DEFAULT
    assert SV._row_cap("5") == 5
    assert SV._row_cap("0") == 0       # emptiness probe stays empty
    assert SV._row_cap(str(10**9)) == SV.DATA_ROW_HARD_CAP


def test_events_funnel_counts_endpoint(served):
    """HTTP parity with CLI --counts: op=funnel&counts=yes returns
    the per-prefix conversion report."""
    base, _ = served
    rows = _json_seq(_get(base, "/data/events", op="funnel",
                          horizon=86400, counts="yes"))
    assert [r["step"] for r in rows] == [1, 2, 3]
    assert rows[0]["n_users"] >= rows[1]["n_users"] >= rows[2]["n_users"]


def test_mutations_require_post(served):
    """Safe-method discipline: a GET against a mutating endpoint is
    405, never a state change (review r6 — a crawler following a
    remove_dataset link must not delete data)."""
    base, _ = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/retire_file", fid="whatever")
    assert e.value.code == 405
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/remove_dataset", dataset="dune:urgent_0")
    assert e.value.code == 405
    # the dataset is still there
    rows = _json_seq(_get(base, "/data/query",
                          query="datasets dune:urgent_0"))
    assert len(rows) == 1


def test_summary_on_dataset_query_is_400(served):
    """summary= is a FILE-query feature; on a dataset query the old
    behavior returned the first dataset record AS the count
    (review r6)."""
    base, _ = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/data/query", query="datasets dune:*",
             summary="count")
    assert e.value.code == 400


def test_durable_server_restart_keeps_declares(spark, tmp_path):
    """End-to-end durability through the HTTP surface (r8): declare
    over POST against a --durable-root server, SHUT THE SERVER DOWN,
    start a brand-new server (fresh catalog + fresh client, same
    root) — the new server answers queries with the declared file,
    exactly what the reference's PostgreSQL-backed webserver does
    across restarts."""
    from tests.conftest import SF_DIR

    from metacat_spark.catalog import from_tpch

    root = str(tmp_path / "cat")

    def boot():
        client = MetaCatSparkClient(spark,
                                    catalog=from_tpch(spark, SF_DIR),
                                    durable_root=root)
        srv, port = start_server(client)
        return srv, f"http://127.0.0.1:{port}"

    srv1, base1 = boot()
    try:
        _post(base1, "/data/create_dataset", {},
              dataset="dune:http_durable")
        out = _post(base1, "/data/declare_files",
                    [{"id": "httpd_1", "namespace": "dune",
                      "name": "httpd1.dat", "size": 7,
                      "metadata": {"core.run": 5,
                                   "core.runs": [5]}}],
                    dataset="dune:http_durable")
        assert out == {"declared": 1}
        _post(base1, "/data/retire_file", {}, fid="httpd_1")
    finally:
        srv1.shutdown()

    srv2, base2 = boot()          # the restart
    try:
        rec = json.loads(_get(base2, "/data/file",
                              fid="httpd_1").read())
        assert rec["name"] == "httpd1.dat" and rec["retired"]
        rows = _json_seq(_get(
            base2, "/data/query",
            query="files from dune:http_durable",
            include_retired_files="yes"))
        assert [r["id"] for r in rows] == ["httpd_1"]
    finally:
        srv2.shutdown()


def test_corpus_cluster_sample_endpoint(served):
    """r13 semantic-diversity selection over HTTP through the shared
    registry: per-cluster caps hold; --clusters-with-index misuse is
    a clean 400."""
    base, _ = served
    rows = _json_seq(_get(base, "/data/corpus", op="cluster-sample",
                          per_cluster=4, clusters=4, limit=5000))
    per = {}
    for r in rows:
        per.setdefault(r["cluster_id"], []).append(r["rank"])
    assert per and all(
        sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 4
        for v in per.values())
    import pytest as _pt
    import urllib.error as _ue
    with _pt.raises(_ue.HTTPError) as e:
        _get(base, "/data/corpus", op="cluster-sample",
             index="whatever", clusters=8)
    assert e.value.code == 400
    # r14 lifecycle: --stats serves over HTTP (a read-only gauge
    # needs a stored artifact under the data root — misuse without
    # one is a clean 400); --ingest writes a caller path: 403
    with _pt.raises(_ue.HTTPError) as e:
        _get(base, "/data/corpus", op="cluster-sample", stats=1)
    assert e.value.code == 400
    with _pt.raises(_ue.HTTPError) as e:
        _get(base, "/data/corpus", op="cluster-sample", stats=1,
             per_cluster=5, index="whatever")
    assert e.value.code == 400
    with _pt.raises(_ue.HTTPError) as e:
        _get(base, "/data/corpus", op="cluster-sample",
             ingest="whatever", index="x", sink="y")
    assert e.value.code == 403


def test_corpus_cluster_sample_stats_endpoint(spark, catalog,
                                              tmp_path):
    """r14: the occupancy gauge serves over HTTP from a stored
    centroid artifact under the data root (read-only verb — the
    streaming twin stays CLI-only, asserted in the shared endpoint
    test)."""
    from metacat_spark.client import MetaCatSparkClient
    from metacat_spark.llm.similarity import build_ivf_centroids
    from metacat_spark.server import start_server
    embs = catalog.raw["embeddings"]
    ipath = str(tmp_path / "css_idx")
    build_ivf_centroids(embs, n_lists=4,
                        train_iters=1).write.parquet(ipath)
    client = MetaCatSparkClient(spark, catalog=catalog)
    srv, port = start_server(client, data_root=str(tmp_path))
    base = f"http://127.0.0.1:{port}"
    try:
        rows = _json_seq(_get(base, "/data/corpus",
                              op="cluster-sample", stats=1,
                              index=ipath))
        assert len(rows) == 1
        assert rows[0]["n_clusters"] == 4
        assert rows[0]["n_assigned"] == embs.count()
        assert rows[0]["recommendation"] in (
            "ok", "retrain", "rebalance")
    finally:
        srv.shutdown()


def test_corpus_novelty_and_decode_coverage_endpoints(spark, catalog,
                                                      tmp_path):
    """r14 ops over HTTP through the shared registry: novelty's
    reference path resolves through the data-root jail; decode
    coverage serves the synthesized fixture; misuse is a clean
    400."""
    from metacat_spark.client import MetaCatSparkClient
    from metacat_spark.server import start_server
    ref = str(tmp_path / "nov_ref")
    catalog.raw["documents"].where("doc_id % 3 = 0") \
        .write.parquet(ref)
    client = MetaCatSparkClient(spark, catalog=catalog)
    srv, port = start_server(client, data_root=str(tmp_path))
    base = f"http://127.0.0.1:{port}"
    try:
        rows = _json_seq(_get(base, "/data/corpus", op="novelty",
                              reference=ref, n=5, limit=10000))
        docs_n = catalog.raw["documents"].count()
        assert len(rows) == docs_n
        assert all(r["overlap_rate"] == 1.0 for r in rows
                   if r["doc_id"] % 3 == 0)
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base, "/data/corpus", op="novelty")
        assert e.value.code == 400                # needs reference=
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base, "/data/corpus", op="novelty", reference=ref,
                 n=0)
        assert e.value.code == 400
        # the jail: a reference OUTSIDE the data root is refused
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base, "/data/corpus", op="novelty",
                 reference="/etc/passwd")
        assert e.value.code in (400, 403)
        cov = _json_seq(_get(base, "/data/corpus",
                             op="decode-coverage"))
        assert [r["container"] for r in cov] == ["other"]
        assert cov[0]["n_assets"] == docs_n
    finally:
        srv.shutdown()
