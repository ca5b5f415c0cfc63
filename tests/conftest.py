import os
import time

import pytest

from dq.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dq-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def os_time_zone():
    """The driver's OS time zone set to UTC+05:30 for one test; the
    Spark session zone stays UTC."""
    prev = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Kolkata"
    time.tzset()
    yield
    if prev is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = prev
    time.tzset()
