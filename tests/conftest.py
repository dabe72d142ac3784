import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wp_motor_spark.session import get_spark, persist_scope  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wp_motor_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _persist_scope():
    """Run each test inside one persist_scope, so an operator that
    persists an intermediate it does not return (the dedup pair
    pipelines) leaves no cache to the next test."""
    with persist_scope():
        yield


# The wp-motor source checkout the reference-parity tests read golden
# values from; the repo does not hold it, so those tests skip without it.
REF = "/root/reference"

needs_reference = pytest.mark.skipif(
    not os.path.isdir(REF),
    reason=f"reads the wp-motor reference checkout at {REF}, which is absent",
)

# In-repo F1 fixture (FIXTURES.md §F1): the nginx rule, its one sample
# line, and a model holding only the documented statements.
EXAMPLE_SIMPLE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "example_simple"
)


def example_simple(name: str) -> str:
    """Text of one file of the in-repo F1 fixture."""
    with open(os.path.join(EXAMPLE_SIMPLE, name)) as fh:
        return fh.read()


TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def sf001_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01_dir():
    return os.path.join(TESTDATA, "sf0.01")
