"""The event-log parser, on a small log recorded from Spark 4.

``data/eventlog`` holds the rolling layout Spark writes with
``spark.eventLog.rolling.enabled``: ``eventlog_v2_local-1/`` with two
``events_<n>_local-1`` files and an ``appstatus_local-1`` marker. The
application ran a two-partition shuffle aggregation, a ``mapInPandas``
stage, and a stateful streaming aggregation over two micro-batches; the
events were cut to the fields the parser reads, and split between the
two files inside the first job.
"""

import json
import os

import pytest

from eventlog import EventLog, event_files, overlap_s, union_s

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                   "eventlog")


def _raw():
    events = []
    for f in event_files(LOG):
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def test_rolling_files_in_index_order_without_appstatus():
    files = [os.path.basename(f) for f in event_files(LOG)]
    assert files == ["events_1_local-1", "events_2_local-1"]
    assert event_files(LOG, "local-1") == event_files(LOG)
    assert event_files(LOG, "local-2") == []


def test_jobs_pair_across_rolled_files():
    raw = _raw()
    starts = [e for e in raw if e["Event"] == "SparkListenerJobStart"]
    log = EventLog.load(LOG, "local-1")
    assert len(log.jobs) == len(starts)
    assert all(s <= e for s, e in log.jobs)


def test_layer_metrics_over_the_whole_log():
    raw = _raw()
    log = EventLog.load(LOG)
    lo = min(s for s, _ in log.jobs) - 60
    hi = max(e for _, e in log.jobs) + 60
    m = log.layer_metrics([(lo, hi)], cores=2)

    tasks = [e for e in raw if e["Event"] == "SparkListenerTaskEnd"]
    assert m["scheduler.tasks"] == len(tasks)
    assert m["scheduler.stages"] == sum(
        e["Event"] == "SparkListenerStageCompleted" for e in raw)
    assert m["scheduler.task_s"] == pytest.approx(sum(
        t["Task Metrics"]["Executor Run Time"] for t in tasks) / 1000)
    assert m["scheduler.gap_s"] == pytest.approx(
        (hi - lo) - union_s(log.jobs))
    assert 0 < m["scheduler.utilization"] < 1
    assert m["exchange.shuffle_write_mb"] > 0
    assert m["exchange.shuffle_write_s"] == pytest.approx(sum(
        t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Write Time"]
        for t in tasks) / 1e9)
    assert m["exchange.shuffle_read_mb"] > 0
    # the mapInPandas stage: its accumulators are bytes and milliseconds
    assert m["python.sent_mb"] == pytest.approx(8608 / 2**20)
    assert m["python.recv_mb"] == pytest.approx(16448 / 2**20)
    assert m["python.run_s"] == pytest.approx(3.610)
    assert m["python.start_s"] == pytest.approx(2.454)
    # two micro-batches of a stateful aggregation over keys {1, 2} then {3}
    assert m["streaming.batches"] == 2
    assert m["streaming.state_rows"] == 3
    assert m["streaming.trigger_ms_p50"] > 0
    assert m["streaming.wal_ms"] > 0


def test_windows_select_and_average_passes():
    log = EventLog.load(LOG)
    first, second = sorted(log.jobs)[:2]
    assert first[1] < second[0]
    one = log.layer_metrics([first], cores=2)
    assert one["scheduler.jobs"] == 1
    assert one["streaming.batches"] == 0
    # two passes of one job each: the counts are per pass
    two = log.layer_metrics([first, second], cores=2)
    assert two["scheduler.jobs"] == 1


def test_interval_union_and_overlap():
    assert union_s([]) == 0.0
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert overlap_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert overlap_s([(0, 1)], 2, 3) == 0.0
