"""Open-loop bookkeeping of the pipeline workload, on synthetic times.

Run with ``python3 -m pytest perfbench -q`` (no Spark needed).
"""

from __future__ import annotations

import pipeline

INTERVAL = 3.0


def _due(n: int) -> dict[str, float]:
    return {pipeline.file_name(i): i * INTERVAL for i in range(n)}


def test_backlog_counts_files_waiting_at_each_publish():
    due = _due(4)
    # each epoch done 1.5 s after it is due: nothing else waits when the next one lands
    assert pipeline.backlog(due, {n: t + 1.5 for n, t in due.items()}) == [1, 1, 1, 1]
    # each epoch takes 5 s of a 3 s interval: the queue grows
    finish = {n: (i + 1) * 5.0 for i, n in enumerate(due)}
    assert pipeline.backlog(due, finish) == [1, 2, 2, 3]
    # an epoch that never finished stays in the queue
    finish = {n: t + 1.0 for n, t in due.items()} | {pipeline.file_name(1): None}
    assert pipeline.backlog(due, finish) == [1, 1, 2, 2]


def test_open_loop_valid_only_when_on_schedule_drained_and_not_growing():
    on_time = [1.0, 2.0, 5.0]
    assert pipeline.open_loop_valid(on_time, INTERVAL, [1, 2, 2], set())
    # a publish 10% of the interval late
    assert not pipeline.open_loop_valid(on_time + [301.0], INTERVAL, [1, 1, 1], set())
    # an epoch that never committed
    assert not pipeline.open_loop_valid(on_time, INTERVAL, [1, 1, 1], {pipeline.file_name(2)})
    # the backlog kept growing
    assert not pipeline.open_loop_valid(on_time, INTERVAL, [1, 2, 3], set())
