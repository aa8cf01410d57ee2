"""Search cancellation / timeout — bounded execution for any engine
action.

Parity: the reference threads a ``cancel()`` predicate through every
search inner loop (flat.h:344-346, greedy_search.h:154-157,
tests/integration/cancel.cpp). Spark's cancellation unit is the JOB,
not the loop iteration: we run the action inside a job group on a
worker thread and cancel the whole group on timeout — coarser-grained
but the same contract (bounded latency, partial work discarded).
Inside a graph search the ``deadline`` is also checked once per
lockstep round of ``vamana_local.batch_greedy_search``, the engine's
one traversal."""

from __future__ import annotations

import threading
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession


class SearchTimeout(TimeoutError):
    pass


def run_with_timeout(
    spark: SparkSession, action: Callable[[], Any], timeout_s: float
) -> Any:
    """Execute ``action`` (which must trigger Spark jobs in its own
    thread) with a wall-clock budget; cancels the job group and raises
    SearchTimeout on expiry.

    Job groups are thread-local, so the action runs on a fresh
    InheritableThread whose jobs all carry the group id."""
    from pyspark import InheritableThread

    group = f"svs-timeout-{uuid.uuid4().hex}"
    result: dict[str, Any] = {}
    done = threading.Event()

    def target() -> None:
        spark.sparkContext.setJobGroup(group, "run_with_timeout", interruptOnCancel=True)
        try:
            result["value"] = action()
        except Exception as e:  # noqa: BLE001 — surfaced to caller below
            result["error"] = e
        finally:
            done.set()

    t = InheritableThread(target=target)
    t.daemon = True
    t.start()
    if not done.wait(timeout_s):
        spark.sparkContext.cancelJobGroup(group)
        raise SearchTimeout(f"action exceeded {timeout_s}s; job group {group} cancelled")
    if "error" in result:
        raise result["error"]
    return result.get("value")
