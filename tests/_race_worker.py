"""The process side of the cross-process commit race in
tests/test_delta_log.py: wait until every racer is ready, then publish
one Delta commit. Kept apart from the test module so a spawned worker
imports only the engine's log module. Exit status 3 means the commit
lost the race with `CommitConflict`."""

from __future__ import annotations

import sys

from random_forest_using_hadoop_spark import delta_log


def publish(barrier, log_dir: str, version: int, writer: int) -> None:
    barrier.wait()
    try:
        delta_log.commit(
            log_dir, version, [{"commitInfo": {"writer": writer}}]
        )
    except delta_log.CommitConflict:
        sys.exit(3)
