import os
import sys
from contextlib import ExitStack

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_etl_demo_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def scope():
    """An ExitStack closed when the test ends: a relation a test
    materializes through it is released at teardown."""
    with ExitStack() as stack:
        yield stack
