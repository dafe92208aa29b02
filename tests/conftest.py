from __future__ import annotations

import os
import sys

import pytest

# this checkout's package, not whichever copy is installed or on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clj_nlp_parse_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", parallelism=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark_session_holder(spark):
    """Alias fixture so hypothesis @given tests can take the session
    without hypothesis trying to treat `spark` as a strategy arg name."""
    return spark
