import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture
def spark():
    """A plain two-core session (re-created in the same JVM after a test
    that stopped it)."""
    from compss_python_spark.session import get_spark

    return get_spark("perfbench-tests", cpus=2)


@pytest.fixture
def traced_spark(tmp_path):
    """A session with the zstd event log on; yields (session, log dir)."""
    from pyspark.sql import SparkSession

    from compss_python_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    s = get_spark(
        "perfbench-tests-traced",
        cpus=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + str(log_dir),
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        },
    )
    yield s, str(log_dir)
    s.stop()
