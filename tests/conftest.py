import os
import sys
import uuid

import pytest

# Path fallback for environments where `pip install -e .` is unavailable
# (this sandbox lacks the `wheel` package); with the package installed via
# pyproject.toml this insert is a harmless no-op.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metaframe_spark.session import get_session, persist_scope  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

# --- slow-test marking ------------------------------------------------------
# The full suite is ~33 min of wall clock, longer than a time-boxed test run
# allows, so the slowest tests (>= 5 s call time in a full-durations run)
# carry a `slow` marker and pyproject's addopts deselects them by default
# (~16 min default set).
# The list is data-driven: tests/slow_tests.txt holds the node ids. Run the
# FULL suite with:  python -m pytest tests/ -m 'slow or not slow'
_SLOW_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "slow_tests.txt")
try:
    with open(_SLOW_FILE) as _f:
        _SLOW_IDS = {
            ln.strip() for ln in _f if ln.strip() and not ln.startswith("#")
        }
except OSError:
    _SLOW_IDS = set()


def pytest_collection_modifyitems(config, items):
    for item in items:
        nid = item.nodeid.replace("\\", "/")
        if nid in _SLOW_IDS or f"tests/{nid}" in _SLOW_IDS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    spark = get_session(
        "metaframe-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn) -> (fn(), job_ids)``: the ids of the Spark jobs
    ``fn`` launched, collected through a private job group."""
    sc = spark.sparkContext

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        props = ("spark.jobGroup.id", "spark.job.description")
        prev = [sc.getLocalProperty(k) for k in props]
        sc.setJobGroup(group, group, False)
        try:
            result = fn()
        finally:
            for k, v in zip(props, prev):
                sc.setLocalProperty(k, v)
        # job events reach the status tracker asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return result, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def cached_plans(spark):
    """``cached_plans() -> int``: entries in the session's CacheManager."""
    manager = spark._jsparkSession.sharedState().cacheManager()
    return lambda: manager.cachedData().size()


@pytest.fixture
def scoped(spark):
    """Run the test inside ``persist_scope(spark)``: every plan it caches
    is released when it ends."""
    with persist_scope(spark):
        yield


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sales(spark):
    """The reference's 22-row unit-test fixture (FIXTURES.md §1)."""
    rows = [
        ("p1", 6, "2019-12-31"), ("p2", 4, "2019-12-31"), ("p3", 10, "2019-12-31"),
        ("p4", 4, "2019-12-31"), ("p5", 3, "2019-12-31"), ("p6", 7, "2019-12-31"),
        ("p7", 18, "2019-12-31"), ("p8", 44, "2019-12-31"),
        ("p1", 6, "2020-01-01"), ("p2", 4, "2020-01-01"), ("p3", 10, "2020-01-01"),
        ("p4", 4, "2020-01-01"), ("p5", 3, "2020-01-01"), ("p6", 7, "2020-01-01"),
        ("p7", 18, "2020-01-01"), ("p8", 44, "2020-01-01"),
        ("p1", 16, "2020-01-02"), ("p2", 4, "2020-01-02"), ("p3", 3, "2020-01-02"),
        ("p4", 6, "2020-01-02"), ("p5", 7, "2020-01-02"), ("p6", 7, "2020-01-02"),
    ]
    return spark.createDataFrame(rows, ["product_id", "quantity", "date"])
