"""Tests of the benchmark's own arithmetic and generators (no Spark).

    python3 -m pytest perfbench -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import loadgen  # noqa: E402
from metrics import beyond, error_ratio, highest_tail, percentile  # noqa: E402,E501
from oracle import matches  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7], 99) == 7
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_has_ten_samples_beyond():
    assert beyond(100, 90) == 10
    assert highest_tail(100) == 90
    assert highest_tail(99) == 80          # p90 would leave 9 beyond
    assert highest_tail(200) == 95
    assert highest_tail(20) == 50
    assert highest_tail(19) is None
    for n in range(20, 2000, 37):
        assert beyond(n, highest_tail(n)) >= 10


def test_error_ratio_counts_wrong_outputs():
    assert error_ratio(10, 0, 0) == 0.0
    assert error_ratio(10, 1, 2) == pytest.approx(0.3)
    with pytest.raises(ValueError):
        error_ratio(0, 0, 0)


def test_wrong_outputs_are_detected():
    want = frozenset({"a", "b", "c"})
    assert matches(("set", "", None), ["c", "a", "b"], want)
    assert not matches(("set", "", None), ["a", "b"], want)
    assert not matches(("set", "", None), ["a", "b", "c", "c"], want)
    assert matches(("subset", "", 2), ["b", "c"], want)
    assert not matches(("subset", "", 2), ["b", "z"], want)
    assert not matches(("subset", "", 5), ["a", "b"], want)
    assert matches(("count", "", None), (3, 60), (3, 60))
    assert not matches(("count", "", None), (3, 61), (3, 60))


def test_same_rows_pairs_rows_and_tolerates_float_noise():
    from oracle import same_rows
    want = [(1, "a", 0.5), (2, "b", 0.25)]
    assert same_rows([(2, "b", 0.2504), (1, "a", 0.5)], want)
    assert not same_rows([(2, "b", 0.26), (1, "a", 0.5)], want)
    assert not same_rows([(1, "a", 0.5)], want)
    assert not same_rows([(1, "a", 0.5), (3, "b", 0.25)], want)


def test_corpus_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq
    for d in ("a", "b"):
        datagen.write_corpus(str(tmp_path / d), 4, 40, 30, 200)
    for t in ("documents", "embeddings", "events"):
        a = pq.read_table(str(tmp_path / "a" / f"{t}.parquet"))
        b = pq.read_table(str(tmp_path / "b" / f"{t}.parquet"))
        assert a.equals(b) and a.num_rows > 0


def _tables(tmp_path, seed=5):
    return datagen.write_tables(str(tmp_path / f"src{seed}"), seed, 300)


def test_datagen_is_seeded(tmp_path):
    a, b = _tables(tmp_path), _tables(tmp_path)
    assert a.file_ids == b.file_ids
    assert a.dataset_files == b.dataset_files
    assert _tables(tmp_path, seed=6).file_ids != a.file_ids
    assert a.dataset_files["test:all"] == a.file_ids


def test_same_seed_same_requests(tmp_path):
    t = _tables(tmp_path)
    one = loadgen.read_requests(t, 9, 200)
    two = loadgen.read_requests(t, 9, 200)
    assert [(r.key, r.oracle) for r in one] == \
        [(r.key, r.oracle) for r in two]
    other = loadgen.read_requests(t, 10, 200)
    assert [r.key for r in one] != [r.key for r in other]
    # every block holds each request class once
    block = sorted(loadgen.READ_CLASSES)
    for i in range(0, 200 - loadgen.BLOCK, loadgen.BLOCK):
        assert sorted(r.kind for r in one[i:i + loadgen.BLOCK]) == block
    assert 0.0 <= loadgen.repeat_share(one) < 1.0


def test_same_seed_same_writes():
    a, b = loadgen.write_ops(3, 4), loadgen.write_ops(3, 4)
    assert [(o.path, o.params, o.body) for o in a] == \
        [(o.path, o.params, o.body) for o in b]
    assert [o.kind for o in a] == loadgen.WRITE_CYCLE * 4
    assert loadgen.read_picks(3, 50) == loadgen.read_picks(3, 50)
    assert loadgen.read_picks(3, 50) != loadgen.read_picks(4, 50)


def test_round_rate_weighs_every_kind_alike():
    from workloads import Call, round_rate
    lat = {"declare": 4.0, "update": 1.0, "add": 2.0, "retire": 1.0}
    cycle = [Call("w", k, lat[k], True) for k in loadgen.WRITE_CYCLE]
    # a trailing partial cycle of cheap ops does not raise the rate
    assert round_rate(cycle, loadgen.WRITE_CYCLE) == pytest.approx(0.5)
    assert round_rate(cycle + cycle[1:2], loadgen.WRITE_CYCLE) \
        == pytest.approx(0.5)
    # nor does one cold first round among three
    cold = [Call("w", k, 3 * lat[k], True) for k in loadgen.WRITE_CYCLE]
    assert round_rate(cold + cycle + cycle, loadgen.WRITE_CYCLE) \
        == pytest.approx(0.5)
    # two clients complete twice as many
    assert round_rate(cycle, loadgen.WRITE_CYCLE, 2) == pytest.approx(1.0)
    # a kind with no successful sample: completions over request time
    assert round_rate(cycle[:2], loadgen.WRITE_CYCLE) \
        == pytest.approx(2 / 5.0)
    assert round_rate(cycle[:2] + [Call("w", "add", 5.0, False)],
                      loadgen.WRITE_CYCLE) == pytest.approx(2 / 10.0)


def test_class_p50_is_geometric_mean_of_kind_medians():
    from workloads import Call, class_p50_ms
    calls = [Call("r", "file", s, True) for s in (0.1, 0.1, 0.9)] + \
        [Call("r", "setop", s, True) for s in (0.4, 2.0)]
    # medians 100 ms and 1200 ms
    assert class_p50_ms(calls) == pytest.approx((100.0 * 1200.0) ** 0.5)
    # more samples of one kind do not shift it towards that kind
    more = calls + [Call("r", "file", 0.1, True)] * 20
    assert class_p50_ms(more) == pytest.approx(class_p50_ms(calls))


def test_write_runs_read_back_every_acknowledged_write(tmp_path):
    from workloads import Call, WriteMix
    wl = WriteMix(_tables(tmp_path), 9)
    sent = []

    def write(port, op, rid):
        sent.append(op)
        return Call(rid, op.kind, 0.01, True)

    def read(port, op, u, rid):
        assert op in sent and 0.0 <= u < 1.0
        return Call(rid, "ryw", 0.01, True)
    wl.write, wl.read = write, read
    one = wl.run(0, 0.0, "m")
    two = wl.run(0, 0.0, "t", 1)
    cycle = len(loadgen.WRITE_CYCLE)
    assert len(one["writes"]) == wl.MIN_UNITS * cycle
    assert len(two["writes"]) == cycle
    assert len(one["reads"]) == len(one["writes"])
    assert sent == wl.ops[:wl.next_op]


def test_read_runs_end_on_whole_blocks_and_continue_the_list(tmp_path):
    import time

    from workloads import Call, ReadMix
    wl = ReadMix(_tables(tmp_path), 9)

    def send(port, req, rid):
        time.sleep(0.01)
        return Call(rid, req.kind, 0.01, True, req=req)
    wl.send = send
    one = wl.run(0, 0.05, "m")
    two = wl.run(0, 0.05, "t", 1)
    for res, least in ((one, wl.MIN_UNITS), (two, 1)):
        assert len(res["reads"]) % loadgen.BLOCK == 0
        assert len(res["reads"]) >= least * loadgen.BLOCK
        assert res["ops_per_s"] > 0
    # the second window sends the requests after the first one's
    n = len(one["requests"])
    assert two["requests"] == wl.requests[n:n + len(two["requests"])]


def test_oracle_reads_the_fixture_mapping(tmp_path):
    from oracle import Oracle
    t = _tables(tmp_path)
    orc = Oracle(t.root)
    try:
        every = orc.expected(("set", "select id from files where "
                              + loadgen.member("test:all"), None))
        n, _ = orc.expected(("count", "select count(*), sum(size) "
                             "from files", None))
    finally:
        orc.close()
    assert every == frozenset(t.file_ids) and n == len(t.file_ids)
