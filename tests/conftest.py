import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from subgraph_extractor_spark import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Python workers start in the JVM's working directory, so the daemon
    # module (worker_daemon.py) is importable only from the repo root.
    # The conf goes in through the launch arguments, which are restored
    # once the JVM is up so that subprocess sessions do not inherit it.
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS")
    if submit_args is None and os.path.isfile("tests/worker_daemon.py"):
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.python.daemon.module=tests.worker_daemon pyspark-shell"
        )
    try:
        spark = get_spark("tests", master="local[8]", shuffle_partitions=8)
    finally:
        if submit_args is None:
            os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture()
def in_job_group(spark):
    """``in_job_group(name, action)`` runs ``action()`` under Spark job group
    ``name``, clears the group again, and returns ``(result, job ids of the
    group)``."""
    sc = spark.sparkContext

    def run(name, action):
        sc.setJobGroup(name, name)
        try:
            result = action()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return result, list(sc.statusTracker().getJobIdsForGroup(name))

    return run
