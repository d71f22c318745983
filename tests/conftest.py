import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# the session's 48g default heap is sized for a large driver; on a small
# box G1 grows the suite's one long-lived JVM past physical memory (the
# live set stays small) until the kernel kills it mid-run
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")


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
