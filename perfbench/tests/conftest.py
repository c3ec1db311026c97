import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A small engine session whose files all land in a pytest temp dir."""
    from perfbench import run

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    conf = run.prepare_env(tmp_path_factory.mktemp("work"), trace=False)
    from weather_flink_spark.session import get_spark

    session = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2, extra_conf=conf)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    run.stop_spark(session)
