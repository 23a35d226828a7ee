import os
import sys
import time
import warnings

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metacat_spark.catalog import RAW_TABLES, from_tpch  # noqa: E402
from metacat_spark.engine import Engine  # noqa: E402
from metacat_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


# --- slow tier (r16, VERDICT r15 #3) -------------------------------
# The full suite outgrew the driver's verify window (52:33 wall in
# r15 — `VERIFY_r15.json` timed out at ~70% with a failure-free
# tail). Long-running tests (streaming drains, multi-config sweeps,
# scale probes) are marked `slow` and SKIPPED by default so
# `python -m pytest tests/ -x -q` finishes inside the budget;
# `--runslow` (or SPARK_GRAFT_RUNSLOW=1) runs everything. The slow
# tier is still executed in full at least once per round (recorded
# in OPTIMIZATION_r16.md round-end verification).


def pytest_addoption(parser):
    parser.addoption(
        "--runslow", action="store_true", default=False,
        help="run tests marked slow (streaming drains, sweeps)")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running (streaming drains, sweeps, scale probes);"
        " skipped by default — run with --runslow or"
        " SPARK_GRAFT_RUNSLOW=1")


def _slow_tier() -> set:
    """Node ids of the slow tier — data-driven (tests/slow_tier.txt,
    generated from the full run's measured durations) so the tier is
    one regenerable list instead of 120+ scattered decorators."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "slow_tier.txt")
    try:
        with open(path) as f:
            return {ln.strip() for ln in f
                    if ln.strip() and not ln.startswith("#")}
    except OSError:
        return set()


def _stale_tier_entries(tier: set, items) -> list:
    """Tier entries of a collected file that match no test in it: the
    module no longer defines the function, or the function's collected
    parametrizations do not include the entry's. A renamed slow test
    would otherwise silently run in tier 1."""
    nodeids = {item.nodeid for item in items}
    modules = {}
    for item in items:
        if getattr(item, "module", None) is not None:
            modules.setdefault(item.nodeid.split("::", 1)[0], item.module)
    stale = []
    for entry in sorted(tier - nodeids):
        path, _, name = entry.partition("::")
        if path not in modules:
            continue
        func = name.split("[", 1)[0]
        obj = modules[path]
        for part in func.split("::"):
            obj = getattr(obj, part, None)
        if obj is None or any(n.startswith(f"{path}::{func}[")
                              for n in nodeids):
            stale.append(entry)
    return stale


def pytest_collection_modifyitems(config, items):
    tier = _slow_tier()
    for entry in _stale_tier_entries(tier, items):
        warnings.warn(pytest.PytestWarning(
            f"slow_tier.txt entry matches no collected test: {entry}"))
    if (config.getoption("--runslow")
            or os.environ.get("SPARK_GRAFT_RUNSLOW") == "1"):
        return
    skip = pytest.mark.skip(
        reason="slow tier: run with --runslow / SPARK_GRAFT_RUNSLOW=1")
    for item in items:
        if "slow" in item.keywords or item.nodeid in tier:
            item.add_marker(skip)


def _job_stage_ids(spark, fn) -> tuple:
    """Run ``fn`` in a fresh job group; the status tracker and the
    stage ids of each Spark job ``fn`` ran, in order."""
    import uuid
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    return tracker, [list(tracker.getJobInfo(j).stageIds)
                     for j in sorted(tracker.getJobIdsForGroup(group))]


def spark_jobs(spark, fn) -> list:
    """Run ``fn`` in a fresh job group; the stage count of each Spark
    job it ran, in order (one stage per job = no Exchange)."""
    return [len(stages) for stages in _job_stage_ids(spark, fn)[1]]


def spark_job_stages(spark, fn) -> list:
    """Run ``fn`` in a fresh job group; for each Spark job it ran, in
    order, the task count of each of its stages by stage id."""
    tracker, jobs = _job_stage_ids(spark, fn)
    return [{s: tracker.getStageInfo(s).numTasks for s in stages}
            for stages in jobs]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("metacat_spark_tests", cpus=8)
    yield s


@pytest.fixture
def non_utc_driver(monkeypatch):
    """The driver process in a zone six hours off UTC (five in summer)
    for one test; its own zone is back after."""
    monkeypatch.setenv("TZ", "America/Chicago")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.fixture(scope="session")
def catalog(spark):
    return from_tpch(spark, SF_DIR)


@pytest.fixture(scope="session")
def engine(catalog):
    return Engine(catalog)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in RAW_TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def ids_of(df):
    return sorted(r["id"] for r in df.select("id").collect())


def duck_ids(duck, sql):
    return sorted(r[0] for r in duck.execute(sql).fetchall())


@pytest.fixture(scope="session")
def engine_small(engine):
    """Engine with the id-ordered base list cached for slicing laws."""
    ids = [r["id"] for r in
           engine.query("files from dune:urgent_0 ordered").collect()]
    engine._all_ids_cache = ids
    return engine
