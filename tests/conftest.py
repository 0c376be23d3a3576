from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small local parallelism for tests


@pytest.fixture(scope="session")
def spark():
    from tabata_spark.session import get_spark

    s = get_spark("tabata_spark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def flights():
    """Small deterministic flight fixture (FIXTURES.md F1)."""
    from tabata_spark.sources.generator import make_flight_records

    return make_flight_records(n_records=6, seed=42, n_rows=600)


@pytest.fixture(scope="session")
def sset(spark, flights):
    from tabata_spark.core.signalset import SignalSet

    return SignalSet.from_records(spark, flights)


SF_DIR = os.environ.get("SPARK_GRAFT_SF_TEST_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _jobs_run_by(spark, fn):
    """Spark job ids started while ``fn()`` runs. A marker job run
    afterwards in a second group must show up first: status events
    arrive in order, so every earlier job has been seen by then."""
    import time

    sc = spark.sparkContext
    group = f"probe-{time.monotonic_ns()}"
    sc.setJobGroup(group, "probe", False)
    try:
        fn()
        sc.setJobGroup(group + "-marker", "marker", False)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    return list(tracker.getJobIdsForGroup(group))


@pytest.fixture
def jobs_run_by():
    return _jobs_run_by
