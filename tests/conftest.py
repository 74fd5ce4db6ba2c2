from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openskidata_processor_spark.session import get_spark  # noqa: E402
from training_catalog.session import ship_catalog  # noqa: E402

# the training catalog's synthetic star schema, at two scales
SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_T2 = os.environ.get("SPARK_GRAFT_SF_T2", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("openskidata-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    ship_catalog(s)
    yield s
    s.stop()
