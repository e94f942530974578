"""Check that the benchmark is steady: run it on several seeds and print,
for each workload and end-to-end metric, the median, the spread (the
distance between the first and third quartile over the median) and the
metric's bound from ``BENCHMARK.json``.

Run from the root of a checkout:

    python3 perfbench/steady.py --seeds 10              # seeds 1..10
    python3 perfbench/steady.py --seeds 5 --first 11 --workload adhoc

A spread should stay below a third of its bound; ``setup_s`` is exempt
(it is bounded by how far its median moves, not by its spread). Each
run's result line is printed as it finishes, so two invocations can be
compared afterwards. A run that leaves a process running in the
checkout stops the check.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import reap  # noqa: E402
from stats import spread  # noqa: E402


def ancestors() -> set[int]:
    """This process and every process above it (the shell that started
    it, say)."""
    out, pid = set(), os.getpid()
    while pid > 0:
        out.add(pid)
        pid = reap.parent(pid)
    return out


def processes_in(root: str) -> list[int]:
    """Processes other than this one and its ancestors whose working
    directory is ``root`` or below it: after a run has exited there must
    be none."""
    out, mine = [], ancestors()
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in mine:
            continue
        try:
            cwd = os.readlink(f"/proc/{entry}/cwd")
        except OSError:  # ended while we looked, or not ours to read
            continue
        if cwd == root or cwd.startswith(root + os.sep):
            out.append(int(entry))
    return out


def main() -> int:
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    names = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values: dict[str, dict[str, list[float]]] = {w: {} for w in names}
    for seed in range(args.first, args.first + args.seeds):
        for wl in names:
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", wl, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  check=False)
            elapsed = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{wl} seed {seed}: exit {proc.returncode}")
            left = processes_in(os.getcwd())
            if left:
                raise SystemExit(f"{wl} seed {seed}: left running: {left}")
            res = json.loads(lines[-1])
            print(json.dumps({"workload": wl, "seed": seed,
                              "elapsed_s": round(elapsed, 1), **res}),
                  flush=True)
            if res["failed"]:
                raise SystemExit(f"{wl} seed {seed}: {res['failed']} failed")
            for k, v in res["metrics"].items():
                values[wl].setdefault(k, []).append(v["value"])

    for wl in names:
        for k, vs in values[wl].items():
            s = spread(vs) if len(vs) > 1 else 0.0
            b = bounds[k]
            ok = k == "setup_s" or s < b / 3
            print(f"{wl:6s} {k:12s} median {statistics.median(vs):10.4f}  "
                  f"spread {s:.4f}  bound {b}  "
                  f"{'ok' if ok else 'NOT STEADY'}  n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
