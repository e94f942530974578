"""Benchmark of record for data_warehouse_co_healthy_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 18

Each run is one fresh process on ``local[<nproc>]``: one client thread
issues the workload's operations back to back (a closed loop). A run

1. sets up once: interpreter imports, JVM launch, SparkContext and
   every input table registered;
2. runs one cold warm-up pass; ``setup_s`` is the time from process
   start to the end of this pass, less the input generation;
3. runs timed passes for ``--seconds`` (at least ``MIN_PASSES``), each
   in an order drawn from ``--seed``, so order effects show as spread
   rather than bias.

Every operation's output is fingerprinted (see ``fingerprint.py``) and
compared with ``expected.json``; a raise, a timeout or a wrong
fingerprint counts in ``failed`` with its reason, and the run goes on.
A failed operation is charged ``OP_TIMEOUT_S`` in ``pass_s`` and
``query_p50_s``, so breaking an operation never reads as a speed-up.

With ``--trace 1`` the run instead reports per-layer metrics: spans
timed around the calls into the package, py4j calls counted by
wrapping the gateway client, and the Spark event log. The span tree is
written to ``.perfbench/trace-<workload>-<seed>.json``.

Before it exits, a run ends the JVM and every other process it started,
and waits for each (see ``reap.py``).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import reap  # noqa: E402
from stats import pass_s, query_p50  # noqa: E402

PACKAGE = "data_warehouse_co_healthy_spark"
WORKLOADS = ("adhoc", "etl")
DATA_SEED = 20240101  # inputs are fixed so fingerprints can be recorded
MIN_PASSES = 3
OP_TIMEOUT_S = 120
DRIVER_MEMORY = "1g"  # the package default (16g) is most of the machine
MB = 1024 * 1024
SPAN_TOLERANCE_S = 2e-3  # event-log times are whole milliseconds


def cores() -> int:
    return len(os.sched_getaffinity(0))


def expected_path() -> str:
    return os.path.join(HERE, "expected.json")


def load_expected() -> dict[str, dict[str, list[int]]]:
    """Recorded fingerprints: ``{workload: {op: [rows, hash]}}``."""
    try:
        with open(expected_path(), encoding="utf-8") as fh:
            recorded = json.load(fh)["workloads"]
    except FileNotFoundError:
        return {}
    return {wl: {op: r["fingerprint"] for op, r in ops.items()}
            for wl, ops in recorded.items()}


class Tracer:
    """Spans and py4j call counts recorded from the benchmark side."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.py4j_calls = 0

    def span(self, name: str, parent: int | None, start: float,
             end: float, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent,
                           "name": name, "start": start, "end": end,
                           **attrs})
        return len(self.spans) - 1

    def wrap_gateway(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*a, **kw):
            self.py4j_calls += 1
            return send(*a, **kw)

        client.send_command = counted


class Run:
    def __init__(self, wl, seed: int, seconds: float, trace: bool,
                 root: str):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.cores = cores()
        self.work = tempfile.mkdtemp(
            prefix=f"run-{wl.name}-{seed}-",
            dir=os.path.join(root, ".perfbench"))
        self.tracer = Tracer() if trace else None
        self.expected = load_expected().get(wl.name, {})
        self.record: dict | None = None  # set by record.py
        self.failures: list[dict] = []
        self.attempted = 0
        self.spark = None

    # -- set-up -------------------------------------------------------
    def _session(self):
        from data_warehouse_co_healthy_spark.session import (  # noqa: PLC0415
            get_spark,
        )

        w = self.work
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={w}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": f"{w}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(f"{w}/eventlog", exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{w}/eventlog",
                "spark.eventLog.rolling.enabled": "true",
                "spark.eventLog.compress": "false",
            })
        spark = get_spark("perfbench", cpus=self.cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> float:
        """Generate the inputs, start the session and register every
        input table; return the seconds since process start, less the
        input generation (the benchmark's own work)."""
        import gen  # noqa: PLC0415

        self.data = os.path.join(self.work, "data")
        t_gen = time.perf_counter()
        gen.generate(self.data, self.wl.scale, DATA_SEED)
        t_gen = time.perf_counter() - t_gen
        self.spark = self._session()
        from data_warehouse_co_healthy_spark.catalog import (  # noqa: PLC0415
            load_table,
        )
        from data_warehouse_co_healthy_spark.schemas import (  # noqa: PLC0415
            TESTDATA_TABLES,
        )
        for t in TESTDATA_TABLES:
            load_table(self.spark, self.data, t)
        if self.tracer:
            self.tracer.wrap_gateway(self.spark)
        self.sink = os.path.join(self.work, "sink")
        return time.perf_counter() - T_PROCESS - t_gen

    # -- operations ---------------------------------------------------
    def run_op(self, op, parent: int | None) -> float | None:
        """Run one operation; return its wall seconds, or None if it
        failed (the failure is recorded)."""
        from workloads import run_action  # noqa: PLC0415

        spark, tr = self.spark, self.tracer
        spark.catalog.clearCache()
        self.attempted += 1
        fired = threading.Event()

        def cancel() -> None:
            fired.set()
            spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        writes: list[float] = []
        w0 = time.time()
        p0 = time.perf_counter()
        reason = None
        timer.start()
        try:
            df = op.build(spark, self.data)
            w1 = time.time()
            if tr:
                df._jdf.queryExecution().executedPlan()
            w2 = time.time()
            got = run_action(op, df, self.sink, on_write=writes.append)
            want = self.expected.get(op.name)
            if self.record is not None:
                self.record[op.name] = got
            elif want is None:
                reason = f"no recorded fingerprint (got {got})"
            elif got != want:
                reason = f"wrong output: fingerprint {got} != {want}"
        except Exception as exc:  # noqa: BLE001 - count it, keep going
            first = (str(exc).strip().splitlines() or [""])[0][:300]
            reason = f"{type(exc).__name__}: {first}"
        finally:
            timer.cancel()
        wall = time.perf_counter() - p0
        w3 = time.time()
        if fired.is_set():
            reason = f"timeout after {OP_TIMEOUT_S} s"
        if tr and reason is None:
            sink_mb = (_tree_bytes(os.path.join(self.sink, op.name)) / MB
                       if op.writes else 0.0)
            sid = tr.span(op.name, parent, w0, w3, kind="operation")
            tr.span("plans.build", sid, w0, w1)
            tr.span("catalyst.plan", sid, w1, w2)
            tr.span("action", sid, w2, w3, write_s=sum(writes),
                    sink_mb=sink_mb)
        if reason is not None:
            self.failures.append({"op": op.name, "reason": reason})
            print(f"FAILED {op.name}: {reason}", file=sys.stderr)
            return None
        return wall

    def run_pass(self, order, label: str
                 ) -> tuple[float, list[tuple[str, float]]]:
        """Run ``order`` once; return the pass wall and each operation's
        wall, with ``OP_TIMEOUT_S`` for one that failed."""
        parent = None
        if self.tracer:
            parent = self.tracer.span(label, None, time.time(), 0.0,
                                      kind="pass")
        w0 = time.time()
        p0 = time.perf_counter()
        times = []
        for op in order:
            t = self.run_op(op, parent)
            times.append((op.name, OP_TIMEOUT_S if t is None else t))
        wall = time.perf_counter() - p0
        if self.tracer:
            self.tracer.spans[parent].update(start=w0, end=time.time())
        return wall, times

    def measure(self) -> dict:
        rng = random.Random(self.seed)
        ops = list(self.wl.ops)

        def order():
            o = ops[:]
            rng.shuffle(o)
            return o

        warm, cold = self.run_pass(order(), "warmup")
        calls0 = self.tracer.py4j_calls if self.tracer else 0
        passes: list[float] = []
        per_op: dict[str, list[float]] = {}
        t_end = time.perf_counter() + self.seconds
        # the next pass starts only if, as long as the last one, it ends
        # within the budget
        while len(passes) < MIN_PASSES or (
                time.perf_counter() + passes[-1] <= t_end):
            wall, times = self.run_pass(order(), f"pass{len(passes)}")
            passes.append(wall)
            for name, t in times:
                per_op.setdefault(name, []).append(t)
        calls = self.tracer.py4j_calls - calls0 if self.tracer else 0
        return {"warmup": warm, "cold": dict(cold), "per_op": per_op,
                "py4j_calls": calls}

    # -- results ------------------------------------------------------
    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024

    def end_to_end(self, setup: float, m) -> dict:
        return {
            "setup_s": (setup + m["warmup"], "s"),
            "pass_s": (pass_s(m["per_op"]), "s"),
            "query_p50_s": (query_p50(m["per_op"]), "s"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
        }

    def per_layer(self, m) -> dict:
        from eventlog import EventLog, overlap_s  # noqa: PLC0415

        tr = self.tracer
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()  # flushes the event log
        self.spark = None
        log = EventLog.load(os.path.join(self.work, "eventlog"), app_id)
        spans = tr.spans
        timed = [s for s in spans
                 if s.get("kind") == "pass" and s["name"] != "warmup"]
        windows = [(s["start"], s["end"]) for s in timed]
        timed_ids = {s["id"] for s in timed}
        ops = [s for s in spans if s["parent"] in timed_ids]
        kids = [s for s in spans if s["parent"] in {o["id"] for o in ops}]
        build = [(s["start"], s["end"]) for s in kids
                 if s["name"] == "plans.build"]
        eager = sum(overlap_s(log.jobs, lo, hi) for lo, hi in build)
        n = len(windows)
        out = log.layer_metrics(windows, self.cores)
        out.update({
            "plans.build_s": (sum(hi - lo for lo, hi in build) - eager) / n,
            "plans.eager_s": eager / n,
            "plans.py4j_calls": m["py4j_calls"] / n,
            "catalyst.plan_s": sum(
                s["end"] - s["start"] for s in kids
                if s["name"] == "catalyst.plan") / n,
            "sources.write_s": sum(
                s.get("write_s", 0.0) for s in kids) / n,
            "sources.sink_mb": sum(
                s.get("sink_mb", 0.0) for s in kids) / n,
            "trace.pass_s": pass_s(m["per_op"]),
        })
        attach_jobs(spans, log.jobs)
        set_self_times(spans)
        for o in ops:
            total, wall = subtree_self_s(spans, o["id"]), o["end"] - o["start"]
            if abs(total - wall) > SPAN_TOLERANCE_S:
                self.failures.append({"op": o["name"], "reason": (
                    f"span self times add up to {total:.4f} s, "
                    f"not to the wall time {wall:.4f} s")})
        self.write_trace(spans, out)
        return {k: (v, _unit(k)) for k, v in out.items()}

    def write_trace(self, spans, metrics) -> None:
        path = os.path.join(self.root, ".perfbench",
                            f"trace-{self.wl.name}-{self.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"workload": self.wl.name, "seed": self.seed,
                       "metrics": metrics, "spans": spans}, fh, indent=1)

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)


def attach_jobs(spans: list[dict], jobs) -> None:
    """Add each event-log job as a child of the operation step it
    overlaps most. Event-log times are whole milliseconds, so a job
    submitted just after a step began can read as submitted just
    before it; the overlap still names the right step. Jobs outside
    every step (set-up, failed operations) are left out."""
    steps = [s for s in spans if s["name"] in
             ("plans.build", "catalyst.plan", "action")]

    def overlap(s: dict, start: float, end: float) -> float:
        return min(end, s["end"]) - max(start, s["start"])

    for start, end in jobs:
        best = max(steps, key=lambda s: overlap(s, start, end), default=None)
        if best is not None and overlap(best, start, end) >= 0:
            spans.append({"id": len(spans), "parent": best["id"],
                          "name": "job", "start": start, "end": end})


def set_self_times(spans: list[dict]) -> None:
    """Store each span's self time as ``self_s``: the part of its
    interval that no earlier-starting sibling already covers, minus the
    part its children cover. Concurrent sibling jobs so count their
    shared time once, and the self times of a subtree add up to its
    root's duration exactly when every child lies inside its parent."""
    from eventlog import overlap_s  # noqa: PLC0415

    kids: dict[int | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for group in kids.values():
        covered: list[tuple[float, float]] = []
        for s in sorted(group, key=lambda s: s["start"]):
            lo, hi = s["start"], s["end"]
            inner = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
            s["self_s"] = ((hi - lo) - overlap_s(covered, lo, hi)
                           - overlap_s(inner, lo, hi))
            covered.append((lo, hi))


def subtree_self_s(spans: list[dict], root: int) -> float:
    """Sum of ``self_s`` over span ``root`` and its descendants."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    total, todo = 0.0, [spans[root]]
    while todo:
        s = todo.pop()
        total += s["self_s"]
        todo.extend(kids.get(s["id"], []))
    return total


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms") or name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("utilization"):
        return "ratio"
    return "count"


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _vm_hwm_kb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return float(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _isolate(root: str) -> None:
    """Point every temporary location of this process, the JVM it starts
    and its Python workers at ``<root>/.perfbench`` inside the checkout."""
    base = os.path.join(root, ".perfbench")
    tmp = os.path.join(base, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_STREAM_TMP"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # the short-lived JVM that builds the spark-submit command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def run_one(args, root: str) -> dict:
    _isolate(root)
    tmp = os.environ["TMPDIR"]
    from workloads import workloads  # noqa: PLC0415

    run = Run(workloads()[args.workload], args.seed, args.seconds,
              bool(args.trace), root)
    try:
        setup = run.setup()
        m = run.measure()
        if args.trace:
            metrics = run.per_layer(m)
        else:
            metrics = run.end_to_end(setup, m)
    finally:
        run.close()
        shutil.rmtree(tmp, ignore_errors=True)
    for name, walls in sorted(m["per_op"].items()):
        print(f"op {name:32s} cold {m['cold'].get(name, float('nan')):8.3f} s"
              f"  timed median {statistics.median(walls):8.3f} s  "
              f"n={len(walls)}")
    return {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "failures": run.failures,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def run_all(args) -> dict:
    """Every workload in a fresh process, untraced then traced; the
    tracing overhead is the traced pass_s minus the untraced one."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", wl, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  check=False)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{wl} trace={trace} failed "
                                 f"(exit {proc.returncode})")
            res[trace] = json.loads(lines[-1])
            out["attempted"] += res[trace]["attempted"]
            out["failed"] += res[trace]["failed"]
            out["correct"] &= res[trace]["correct"]
            for k, v in res[trace]["metrics"].items():
                out["metrics"][f"{wl}.{k}"] = v
                print(f"{wl:7s} {k:28s} {v['value']:14.4f} {v['unit']}")
        overhead = (res[1]["metrics"]["trace.pass_s"]["value"]
                    - res[0]["metrics"]["pass_s"]["value"])
        out["metrics"][f"{wl}.trace.overhead_s"] = {"value": overhead,
                                                    "unit": "s"}
        print(f"{wl:7s} {'trace.overhead_s':28s} {overhead:14.4f} s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from a checkout root holding {PACKAGE}/",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
    sys.path.insert(0, root)
    # a SIGTERM ends the run through the ``finally`` below, too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    reap.become_subreaper()
    try:
        out = run_all(args) if args.workload == "all" else run_one(args, root)
    finally:
        reap.reap()
    for f in out.pop("failures", []):
        print(f"failed: {f['op']}: {f['reason']}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
