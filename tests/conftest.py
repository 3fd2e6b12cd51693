from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from gtfs_osm_sync_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cpus=8, app_name="pytest", shuffle_partitions=8)
    yield s


def needs_dir(path: str):
    """Skip marker for tests that read a fixture directory the repository
    does not ship: a missing input is a skip, not an error, and every
    such test reports the same reason."""
    return pytest.mark.skipif(
        not os.path.isdir(path), reason=f"fixture directory {path} is absent"
    )
