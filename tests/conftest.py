import itertools
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from hobbes_spark.session import get_spark

    s = get_spark("hobbes_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_JOB_GROUPS = itertools.count()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` in a job group of its own and
    returns ``(result, Spark jobs it launched, their stages)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"spark-jobs-{next(_JOB_GROUPS)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        # job-start events reach the status store through the listener
        # bus; drain it so the count is complete
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
        return out, len(jobs), stages

    return run


@pytest.fixture
def conf_writes(monkeypatch):
    """Every ``spark.conf.set``/``unset`` made during the test, from any
    thread, as ``(op, key)`` pairs; the writes still take effect."""
    from pyspark.sql.conf import RuntimeConfig

    calls: list = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def set_(self, key, value):
        calls.append(("set", key))
        return real_set(self, key, value)

    def unset(self, key):
        calls.append(("unset", key))
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", set_)
    monkeypatch.setattr(RuntimeConfig, "unset", unset)
    return calls
