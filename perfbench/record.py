"""Record the expected output fingerprints into ``expected.json``.

Run from the root of a checkout after a change that is meant to alter
query outputs or the generated inputs:

    python3 perfbench/record.py            # every workload
    python3 perfbench/record.py etl        # one workload

For each workload it sets up exactly as a benchmark run does, runs two
passes and requires both to give the same fingerprint per operation.
It then cross-checks each operation's output once against the DuckDB
oracle SQL of the registry (``ORACLES``), using the same strict compare
as ``tools/check_oracle.py``, and stores the verdict beside the
fingerprint.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench


def oracle_verdict(run, op, duck, oracles) -> str:
    from tools.check_oracle import canonicalize, compare_strict  # noqa: PLC0415

    sql = oracles.get(op.name)
    if sql is None:
        return "no oracle"
    got = canonicalize(op.build(run.spark, run.data).toPandas())
    want = canonicalize(duck.sql(sql).df())
    if len(got) != len(want):
        return f"mismatch: rows {len(got)} != {len(want)}"
    if list(got.columns) != list(want.columns):
        return "mismatch: columns differ"
    problems = compare_strict(got, want)
    return "match" if not problems else "mismatch: " + problems[0][:200]


def record(workload: str, root: str) -> dict:
    import duckdb  # noqa: PLC0415

    from data_warehouse_co_healthy_spark.plans.queries import (  # noqa: PLC0415
        ORACLES,
    )
    from data_warehouse_co_healthy_spark.schemas import (  # noqa: PLC0415
        TESTDATA_TABLES,
    )

    from workloads import workloads  # noqa: PLC0415

    bench._isolate(root)
    run = bench.Run(workloads()[workload], 0, 0.0, False, root)
    try:
        run.setup()
        first, second = {}, {}
        for rec in (first, second):
            run.record = rec
            run.run_pass(run.wl.ops, "record")
        if run.failures:
            raise SystemExit(f"{workload}: {run.failures}")
        unstable = [k for k in first if first[k] != second.get(k)]
        if unstable:
            raise SystemExit(f"{workload}: unstable fingerprints {unstable}")
        duck = duckdb.connect()
        for t in TESTDATA_TABLES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet('{run.data}/{t}.parquet')")
        out = {}
        for op in run.wl.ops:
            verdict = oracle_verdict(run, op, duck, ORACLES)
            print(f"{workload:7s} {op.name:30s} {first[op.name]} {verdict}")
            out[op.name] = {"fingerprint": first[op.name], "oracle": verdict}
        return out
    finally:
        run.close()
        shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
    names = sys.argv[1:] or list(bench.WORKLOADS)
    try:
        with open(bench.expected_path(), encoding="utf-8") as fh:
            doc = json.load(fh)
    except FileNotFoundError:
        doc = {"data_seed": bench.DATA_SEED, "workloads": {}}
    for wl in names:
        doc["workloads"][wl] = record(wl, root)
    with open(bench.expected_path(), "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
