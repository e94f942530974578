"""A run counts raises and wrong outputs and goes on; span self times."""

import run as bench
from workloads import Op, Workload


def _boom(spark, data):
    raise RuntimeError("injected failure")


def test_failures_are_counted_and_the_pass_goes_on(spark, tmp_path):
    (tmp_path / ".perfbench").mkdir()
    wl = Workload("t", 0.001, (
        Op("ok", lambda s, d: s.range(3)),
        Op("wrong", lambda s, d: s.range(4)),
        Op("boom", _boom),
        Op("last", lambda s, d: s.range(5)),
    ))
    run = bench.Run(wl, 0, 0.0, False, str(tmp_path))
    run.spark, run.data, run.sink = spark, str(tmp_path), str(tmp_path)
    want = {"ok": [3, 0], "wrong": [4, 0], "last": [5, 0]}
    # record the true fingerprints, then break the one for "wrong"
    run.record = {}
    run.run_pass([wl.ops[0], wl.ops[1], wl.ops[3]], "record")
    want.update(run.record)
    want["wrong"] = [4, want["wrong"][1] + 1]
    run.record, run.expected, run.attempted = None, want, 0

    wall, times = run.run_pass(list(wl.ops), "pass")

    assert run.attempted == 4
    reasons = {f["op"]: f["reason"] for f in run.failures}
    assert set(reasons) == {"wrong", "boom"}
    assert reasons["wrong"].startswith("wrong output")
    assert "injected failure" in reasons["boom"]
    # "ok" and "last" still ran and were timed; a failure is charged the
    # timeout, so it never reads as a faster operation
    walls = dict(times)
    assert [n for n, _ in times] == ["ok", "wrong", "boom", "last"]
    assert walls["wrong"] == walls["boom"] == bench.OP_TIMEOUT_S
    assert wall >= walls["ok"] + walls["last"]


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "name": str(i), "start": start,
            "end": end}


def test_self_times_count_concurrent_jobs_once():
    spans = [
        _span(0, None, 0.0, 10.0),  # operation
        _span(1, 0, 0.0, 2.0),  # plans.build
        _span(2, 0, 2.0, 10.0),  # action
        _span(3, 2, 3.0, 7.0),  # two concurrent jobs
        _span(4, 2, 5.0, 8.0),
    ]
    bench.set_self_times(spans)
    assert [s["self_s"] for s in spans] == [0.0, 2.0, 3.0, 4.0, 1.0]
    assert bench.subtree_self_s(spans, 0) == 10.0


def test_self_times_show_a_child_outside_its_parent():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 3.0, 6.0)]
    bench.set_self_times(spans)
    assert bench.subtree_self_s(spans, 0) == 6.0


def test_jobs_attach_to_the_step_they_overlap_most():
    spans = [
        _span(0, None, 10.0, 20.0),
        {**_span(1, 0, 10.0, 12.0), "name": "catalyst.plan"},
        {**_span(2, 0, 12.0, 20.0), "name": "action"},
    ]
    # recorded in whole milliseconds: reads as submitted before "action"
    bench.attach_jobs(spans, [(11.9995, 15.0), (1.0, 2.0)])
    assert [(s["name"], s["parent"]) for s in spans[3:]] == [("job", 2)]
    bench.set_self_times(spans)
    assert abs(bench.subtree_self_s(spans, 0) - 10.0) < bench.SPAN_TOLERANCE_S
