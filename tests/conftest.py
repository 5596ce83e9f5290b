import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from kgspark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kgspark-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
