"""End-to-end CO_healthy warehouse demo — the reference's process.py
replacement. Builds all 11 dimensions + 4 facts from the synthetic
parity sources and writes them as parquet (facts partitioned by their
date key where present).

Usage: python tools/run_demo.py [output_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from data_warehouse_co_healthy_spark.session import get_spark  # noqa: E402
from data_warehouse_co_healthy_spark.pipelines.runner import (  # noqa: E402
    run_all,
)
from data_warehouse_co_healthy_spark.sources.writers import (  # noqa: E402
    write_parquet,
)


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/co_warehouse"
    spark = get_spark("co-demo")
    from tests.fixtures_co import make_sources

    sources = make_sources(spark)
    # parity touch: when the reference's real drug catalog is present,
    # build dim_medicamento from it via the vendored BIFF8 reader
    # instead of the synthetic stand-in (reference dimension.py:62-73)
    real_xls = "/root/reference/medicamentos.xls"
    if os.path.exists(real_xls):
        from data_warehouse_co_healthy_spark.schemas import (
            REFERENCE,
        )
        from data_warehouse_co_healthy_spark.sources import readers

        real = readers.read_excel_catalog(
            spark, real_xls, REFERENCE["medicamentos"]
        )
        # keep the synthetic codes the fixture formulas reference —
        # the star join is INNER (reference semantics), so dropping
        # them would silently empty fact_medical_formula
        sources["medicamentos"] = sources["medicamentos"].unionByName(
            real
        )
        print("  dim_medicamento: REAL catalog (medicamentos.xls)"
              " + fixture codes")

    tables = run_all(spark, sources)
    for name, df in tables.items():
        part = ("fecha",) if "fecha" in df.columns else ()
        write_parquet(df, os.path.join(out_dir, name), partition_by=part)
        print(f"  wrote {name}: {df.count()} rows"
              + (f" (partitioned by {part[0]})" if part else ""))
    print(f"warehouse at {out_dir}: {len(tables)} tables")


if __name__ == "__main__":
    main()
