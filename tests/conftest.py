from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from immich_geodata_zh_tw_spark.session import get_spark

    s = get_spark(app_name="tests", parallelism=4, shuffle_partitions=4)
    yield s
    s.stop()

