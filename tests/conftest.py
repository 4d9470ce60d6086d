from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from data_wrangling_osm_xml_with_python_into_mongodb_spark.session import get_spark  # noqa: E402

# The session factory pins -Xms to this (default 8g).  The suite's
# fixtures are small, and a 4g heap leaves room on a shared box for a
# second Spark process (an oracle or benchmark run) beside the tests.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
