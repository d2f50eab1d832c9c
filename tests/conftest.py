from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from qin_cdc_spark.session import get_spark

    spark = get_spark(
        "qin_cdc_spark_tests",
        cpus=8,
        shuffle_partitions=8,
        # workers import the installed pyspark, not Spark's zips (see
        # tests/_worker_daemon.py: ~0.2 s saved per Python task)
        extra_conf={
            "spark.python.daemon.module": "tests._worker_daemon",
            "spark.executorEnv.PYTHONPATH": str(REPO_ROOT),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def _last_job_id(spark) -> int:
    """Id of the newest Spark job the session has started (-1 before
    any).  Count an operation's jobs as the difference of this id after
    and before it: job ids are sequential, while the retained job list
    is capped (``spark.ui.retainedJobs``), so its size undercounts."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def count_jobs(spark, fn, *args, **kwargs) -> int:
    """Spark jobs ``fn(*args, **kwargs)`` runs, by job-id delta."""
    before = _last_job_id(spark)
    fn(*args, **kwargs)
    return _last_job_id(spark) - before


@pytest.fixture(scope="session")
def duck():
    from qin_cdc_spark.testing import duckdb_conn

    return duckdb_conn(SF_SMOKE)


def pytest_sessionfinish(session, exitstatus):
    """Drop the LAST gate query's temp store trees (gate_tmp defers
    cleanup by one query; everything earlier was already reclaimed)."""
    from qin_cdc_spark.session import cleanup_session_tmp
    from qin_cdc_spark.testing import cleanup_gate_tmp

    cleanup_gate_tmp()
    cleanup_session_tmp()
