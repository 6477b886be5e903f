import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"
# The reference implementation's scripts (writer.py, reader.py, sample
# CSVs), read-only; tests that run them skip where they are absent.
REF = "/root/reference"
requires_reference = pytest.mark.skipif(
    not os.path.isfile(os.path.join(REF, "writer.py")),
    reason="reference scripts not present")


@pytest.fixture(scope="session")
def spark():
    from columnar_format_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield s
    s.stop()
