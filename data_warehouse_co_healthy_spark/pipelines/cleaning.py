"""Data-cleaning helpers shared by the parity pipelines.

The reference repairs mojibake city names with a 9-branch CASE chain,
duplicated verbatim in two pipelines (reference
processing/retreat_process.py:119-134 and
processing/service_process.py:69-87). Here the mapping is one table,
applied as a ``when`` chain (same semantics).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mojibake → repaired city name (behavior observed at reference
# retreat_process.py:122-132; the '�' is U+FFFD as stored).
MUNICIPIO_REPAIRS: dict[str, str] = {
    "Bogota": "Bogotá D.C.",
    "Bagad�": "Bagadó",
    "Facatativ�": "Facatativá",
    "Jamund�": "Jamundí",
    "Medellin": "Medellín",
    "Monter�a": "Montería",
    "Nuqu�": "Nuquí",
    "Quibd�": "Quibdó",
    "Valpara�so": "Valparaíso",
}


def repair_municipio(col: Column) -> Column:
    """when-chain form — exact reference semantics."""
    expr = col
    for bad, good in MUNICIPIO_REPAIRS.items():
        expr = F.when(col == bad, good).otherwise(expr)
    return expr
