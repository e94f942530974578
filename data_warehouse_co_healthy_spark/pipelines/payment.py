"""Payment (facturación) fact pipeline — parity with reference
processing/payment_process.py as pure functions.

Reference lifecycle (SURVEY §3 entry point 2): demographic dim pushed &
read back to recover demografica_id via a 5-column attribute join
(:133-138), payment denormalized through three LEFT joins (:149-151),
five mixed inner/left star joins (:155-159), project + fillna(0) on
empresa_id (:161-162). Quirks preserved (SURVEY §4): payments without a
preexistence row are DROPPED by the inner disease join (:158), and
left-join company misses become empresa_id=0 — a real-looking key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def build_fact_facturacion(
    pagos: DataFrame,
    cotizante: DataFrame,
    empresa_cotizante: DataFrame,
    preexistencias: DataFrame,
    dim_cotizante: DataFrame,
    dim_centro_medico: DataFrame,
    dim_empresa: DataFrame,
    dim_enfermedad: DataFrame,
    dim_fecha: DataFrame,
) -> DataFrame:
    """Reference payment_process.py:121-163 as one lazy plan."""
    merged = (
        pagos.join(
            empresa_cotizante,
            pagos.id_usuario == empresa_cotizante.cotizante,
            "left",
        )
        .join(preexistencias, on="id_usuario", how="left")
        .join(
            cotizante.select("cedula", "id_ips"),
            F.col("id_usuario") == F.col("cedula"),
            "left",
        )
        .drop("cedula")
    )
    merged = (
        merged.join(
            F.broadcast(dim_cotizante.select("cotizante_id", "cedula")),
            merged.id_usuario == F.col("cedula"),
            "inner",
        )
        .join(
            F.broadcast(dim_centro_medico.select("centro_medico_id", "id_ips")),
            on="id_ips",
            how="inner",
        )
        .join(
            F.broadcast(dim_empresa.select("empresa_id", "nit")),
            F.col("empresa") == F.col("nit"),
            "left",
        )
        .join(
            F.broadcast(dim_enfermedad),
            F.col("enfermedad") == dim_enfermedad.nombre,
            "inner",
        )
        .join(
            F.broadcast(dim_fecha.select("fecha_id", "fecha")),
            F.date_format("fecha_pago", "yyyy-MM-dd") == F.col("fecha"),
            "inner",
        )
    )
    fact = merged.select(
        "fecha_id", "centro_medico_id", "enfermedad_id", "empresa_id",
        "cotizante_id", "valor_pagado",
    )
    return fact.fillna(0, subset=["empresa_id"])
