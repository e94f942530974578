"""Withdrawal (retiro) fact pipeline — parity with reference
processing/retreat_process.py as pure functions.

Reference lifecycle: demographic recovery join (:148-150), int→bool on
proviene_otra_eps (:153), mojibake city repair on the medical-center dim
(:119-134), then five inner star joins on id_ips → municipio → cedula →
fecha (:159-163) and the fact select (:165)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cleaning import repair_municipio


def build_fact_retiro(
    retiros: DataFrame,
    cotizante: DataFrame,
    dim_centro_medico: DataFrame,
    dim_region: DataFrame,
    dim_cotizante: DataFrame,
    dim_fecha: DataFrame,
) -> DataFrame:
    """Reference retreat_process.py:156-166 as one lazy plan. The city
    repair runs on the dim before the municipio join so repaired names
    hit the (accent-correct) region dim."""
    centro = dim_centro_medico.withColumn(
        "municipio", repair_municipio(F.col("municipio"))
    )
    merged = (
        retiros.join(
            cotizante.select("cedula", "id_ips"),
            retiros.id_usuario == F.col("cedula"),
            "inner",
        )
        .drop("cedula")
        .join(
            F.broadcast(
                centro.select("centro_medico_id", "id_ips", "municipio")
            ),
            on="id_ips",
            how="inner",
        )
        .join(F.broadcast(dim_region), on="municipio", how="inner")
        .join(
            F.broadcast(dim_cotizante.select("cotizante_id", "cedula")),
            F.col("id_usuario") == F.col("cedula"),
            "inner",
        )
        .join(
            F.broadcast(dim_fecha.select("fecha_id", "fecha")),
            F.date_format("fecha_retiro", "yyyy-MM-dd") == F.col("fecha"),
            "inner",
        )
    )
    return merged.select(
        "fecha_id", "region_id", "centro_medico_id", "cotizante_id",
        "cambio_a_eps",
    )
