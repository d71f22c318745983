import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from polyfuzz_spark.session import get_spark

    s = get_spark("polyfuzz_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


# canonical reference fixture: /root/reference/tests/utils.py:1-4
@pytest.fixture(scope="session")
def from_list():
    return ["apple", "apples", "appl", "recal", "house", "similarity"]


@pytest.fixture(scope="session")
def to_list():
    return ["apple", "apples", "mouse"]
