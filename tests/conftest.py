from __future__ import annotations

import sys
import uuid
from contextlib import contextmanager
from pathlib import Path
from types import SimpleNamespace

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from otrrentetl_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from tools.verify_oracle import duck_connect

    return duck_connect(SF_SMOKE)


@pytest.fixture
def count_jobs(spark):
    """``with count_jobs() as jobs: ...`` — afterwards ``jobs.n`` is
    the number of Spark jobs the block submitted from this thread (a
    private job group, read back from the status tracker)."""
    sc = spark.sparkContext

    @contextmanager
    def counting():
        tag = f"count_jobs_{uuid.uuid4().hex}"
        jobs = SimpleNamespace(n=None)
        sc.setJobGroup(tag, "job-count pin")
        try:
            yield jobs
        finally:
            sc.setJobGroup("", "")
        # the status tracker is fed by the listener bus: drain it so
        # no finished job is missed
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.n = len(sc.statusTracker().getJobIdsForGroup(tag))

    return counting
