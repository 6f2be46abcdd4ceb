import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from datasketches_java_spark.functions.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()
