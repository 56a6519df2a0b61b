from __future__ import annotations

import pytest

from deepblocker_spark.operators.bc_registry import release_tracked
from deepblocker_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="deepblocker-tests",
        master="local[4]",
        shuffle_partitions=4,
        arrow_max_records=2_000,
    )
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_tracked():
    """Release every registered frame and broadcast after each test — the
    suite's one release point, so a long session stays bounded."""
    yield
    release_tracked()


@pytest.fixture
def await_stream():
    """-> finish(query): wait for a streaming query to end. A query still
    running after ``timeout`` seconds is stopped and fails the test, so a
    partial sink is never asserted on."""

    def finish(query, timeout: int = 120) -> None:
        if not query.awaitTermination(timeout):
            query.stop()
            pytest.fail(f"streaming query did not finish within {timeout}s")

    return finish
