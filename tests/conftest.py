import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gaia_spark.session import get_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        master="local[4]",
        app_name="gaia_spark_tests",
        confs={"spark.sql.shuffle.partitions": "8", "spark.driver.memory": "4g"},
    )
    yield s
    # iter_checkpoint picks reliable checkpoints once a directory is set,
    # and a directory cannot be unset: no test may set one on this session
    assert s.sparkContext.getCheckpointDir() is None
