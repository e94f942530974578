"""Driver-checkable versions of the three reference fact pipelines.

The CO pipelines (payment/retreat/service — reference
processing/payment_process.py:121-163, processing/retreat_process.py:156-166,
processing/service_process.py:110-158) take CO-shaped inputs that the
driver's TPC-H-ish fixtures don't provide directly. Each query here maps
the fixture tables into the CO shapes with DETERMINISTIC, SQL-expressible
derivations (modular key splits, date/hour label formatting, the mojibake
municipio cycle), then runs the REAL pipeline builder — so the driver's
DuckDB oracle grades the actual join/union/cleaning semantics of
``build_fact_facturacion`` / ``build_fact_retiro`` / ``build_fact_servicio``
(SURVEY §2 rows J6-J15, U2, P6, P7, F8, F9), not a stand-in.

Scale posture: identical to the pipelines themselves — every dimension
side is broadcast inside the builders; the only fact-sized input is the
orders scan. The mapping layer adds projections only (no extra shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, local_frame
from .cleaning import MUNICIPIO_REPAIRS
from .payment import build_fact_facturacion
from .retreat import build_fact_retiro
from .service import align_services, build_fact_servicio

# The mojibake cycle: nation k gets the k%9-th BROKEN city name; the
# pipelines' repair_municipio must map it to the matching repaired name
# (reference retreat_process.py:122-132).
_MUNI = list(MUNICIPIO_REPAIRS.items())  # [(broken, repaired)] × 9


def _dim_fecha(o: DataFrame, with_next_day: bool = False) -> DataFrame:
    """String-keyed date dim over the orders date range (the reference's
    dim_fecha join key is the yyyy-MM-dd string, dimension.py:115)."""
    days = o.select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("fecha"))
    if with_next_day:
        days = days.unionByName(
            o.select(
                F.date_format(
                    F.date_add(F.to_date("o_orderdate"), 1), "yyyy-MM-dd"
                ).alias("fecha")
            )
        )
    return days.dropDuplicates().select(
        F.regexp_replace("fecha", "-", "").cast("long").alias("fecha_id"),
        "fecha",
    )


#: DuckDB twin of ``_dim_fecha(o)``; the service-star oracle, the one
#: ``with_next_day`` caller, builds its next-day key inline.
_DIM_FECHA_SQL = (
    "SELECT CAST(replace(fecha, '-', '') AS BIGINT) AS fecha_id, fecha "
    "FROM (SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS fecha "
    "FROM orders)"
)


def fact_facturacion_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment pipeline (reference payment_process.py:121-163) on fixture
    data: three LEFT denormalization joins, five mixed inner/left star
    joins, fillna(0) on the company-miss key (J6-J9, P7)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pagos = o.select(
        F.col("o_custkey").alias("id_usuario"),
        F.col("o_totalprice").alias("valor_pagado"),
        F.col("o_orderdate").alias("fecha_pago"),
    )
    cotizante = c.select(
        F.col("c_custkey").alias("cedula"), F.col("c_nationkey").alias("id_ips")
    )
    empresa_cotizante = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("cotizante"),
        F.col("c_nationkey").alias("empresa"),
    )
    preexistencias = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("id_usuario"),
        F.col("c_mktsegment").alias("enfermedad"),
    )
    dim_cotizante = c.select(
        (F.col("c_custkey") + 1).alias("cotizante_id"),
        F.col("c_custkey").alias("cedula"),
    )
    dim_centro_medico = n.select(
        (F.col("n_nationkey") + 1).alias("centro_medico_id"),
        F.col("n_nationkey").alias("id_ips"),
    )
    dim_empresa = n.select(
        (F.col("n_nationkey") + 1).alias("empresa_id"),
        F.col("n_nationkey").alias("nit"),
    )
    dim_enfermedad = (
        c.select(F.col("c_mktsegment").alias("nombre"))
        .dropDuplicates()
        .withColumn(
            "enfermedad_id",
            F.row_number().over(Window.orderBy("nombre")).cast("long"),
        )
    )
    return build_fact_facturacion(
        pagos,
        cotizante,
        empresa_cotizante,
        preexistencias,
        dim_cotizante,
        dim_centro_medico,
        dim_empresa,
        dim_enfermedad,
        _dim_fecha(o),
    )


def fact_retiro_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Withdrawal pipeline (reference retreat_process.py:156-166) on
    fixture data: mojibake city repair on the medical-center dim, then
    the five inner star joins (J10, P6, F8)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    retiros = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("id_usuario"),
        F.col("o_orderdate").alias("fecha_retiro"),
        F.concat(
            F.lit("EPS_"), (F.col("o_orderkey") % 5).cast("string")
        ).alias("cambio_a_eps"),
    )
    cotizante = c.select(
        F.col("c_custkey").alias("cedula"), F.col("c_nationkey").alias("id_ips")
    )
    broken = F.array(*[F.lit(b) for b, _ in _MUNI])
    dim_centro_medico = n.select(
        (F.col("n_nationkey") + 1).alias("centro_medico_id"),
        F.col("n_nationkey").alias("id_ips"),
        F.element_at(
            broken, (F.col("n_nationkey") % 9 + 1).cast("int")
        ).alias("municipio"),
    )
    dim_region = local_frame(
        spark,
        [(i + 1, good) for i, (_, good) in enumerate(_MUNI)],
        "region_id long, municipio string",
    )
    dim_cotizante = c.select(
        (F.col("c_custkey") + 1).alias("cotizante_id"),
        F.col("c_custkey").alias("cedula"),
    )
    return build_fact_retiro(
        retiros,
        cotizante,
        dim_centro_medico,
        dim_region,
        dim_cotizante,
        _dim_fecha(o),
    )


def fact_service_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified-services pipeline (reference service_process.py:110-158)
    on fixture data: four aligned branches + positional union (U2),
    role-playing hour/date dims joined twice (J14), doctor-region
    derivation with city repair (J12/J15, P6), time labels (F9)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    hora_sol = F.concat(
        F.lpad((F.col("o_orderkey") % 24).cast("string"), 2, "0"),
        F.lit(":00:00"),
    )
    hora_ate = F.concat(
        F.lpad(((F.col("o_orderkey") * 7 + 5) % 24).cast("string"), 2, "0"),
        F.lit(":00:00"),
    )
    base = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("id_usuario"),
        (F.col("o_custkey") % 10).alias("id_medico"),
        F.col("o_orderdate").alias("fecha_solicitud"),
        F.date_add(F.to_date("o_orderdate"), 1).alias("fecha_atencion"),
        hora_sol.alias("hora_solicitud"),
        hora_ate.alias("hora_atencion"),
        F.col("o_orderpriority").alias("diagnostico"),
    )
    branch_cols = [
        "id_usuario", "id_medico", "fecha_solicitud", "hora_solicitud",
        "fecha_atencion", "hora_atencion", "diagnostico",
    ]
    citas = base.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("codigo_cita"), *branch_cols
    )
    urgencias = base.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("codigo_urgencia"), *branch_cols
    )
    hospitalizaciones = base.filter(F.col("o_orderkey") % 4 == 2).select(
        F.col("o_orderkey").alias("codigo_hospitalizacion"),
        F.lit(1).alias("duracion_hospitalizacion"),
        *branch_cols,
    )
    remisiones = base.filter(F.col("o_orderkey") % 4 == 3).select(
        F.col("o_orderkey").alias("codigo_remision"),
        "id_usuario",
        "id_medico",
        F.lit(0).alias("id_medico_remite"),
        F.col("fecha_solicitud").alias("fecha_remision"),
        F.col("hora_solicitud").alias("hora_remision"),
        "fecha_atencion",
        "hora_atencion",
        (F.col("o_orderkey") % 10).alias("servicio_pos"),
    )
    servicios_pos = spark.range(10).select(
        F.col("id").alias("id_servicio_pos"),
        F.concat(F.lit("SVC_"), F.col("id").cast("string")).alias(
            "descripcion"
        ),
        (F.col("id") * 10.0).alias("costo"),
    )
    services = align_services(
        citas, urgencias, hospitalizaciones, remisiones, servicios_pos
    )

    medico = s.select(
        F.col("s_suppkey").alias("cedula"),
        F.col("s_nationkey").alias("id_ips"),
    )
    broken = F.array(*[F.lit(b) for b, _ in _MUNI])
    ips = n.select(
        F.col("n_nationkey").alias("id_ips"),
        F.element_at(
            broken, (F.col("n_nationkey") % 9 + 1).cast("int")
        ).alias("municipio"),
    )
    dim_usuario = c.select(
        (F.col("c_custkey") + 1).alias("usuario_id"),
        F.col("c_custkey").alias("identificacion"),
    )
    dim_medico = s.select(
        (F.col("s_suppkey") + 1).alias("medico_id"),
        F.col("s_suppkey").alias("cedula"),
    )
    dim_hora = spark.range(24).select(
        (F.col("id") + 1).alias("hora_id"),
        F.concat(
            F.lpad(F.col("id").cast("string"), 2, "0"), F.lit(":00:00")
        ).alias("hora_label"),
    )
    dim_region = local_frame(
        spark,
        [(i + 1, good) for i, (_, good) in enumerate(_MUNI)],
        "region_id long, municipio string",
    )
    return build_fact_servicio(
        services,
        medico,
        ips,
        dim_usuario,
        dim_medico,
        dim_hora,
        _dim_fecha(o, with_next_day=True),
        dim_region,
    )


QUERIES = {
    "fact_facturacion_star": fact_facturacion_star,
    "fact_retiro_star": fact_retiro_star,
    "fact_service_star": fact_service_star,
}

_GOOD_CASE = " ".join(
    f"WHEN {i} THEN '{good}'" for i, (_, good) in enumerate(_MUNI)
)

ORACLES = {
    "fact_facturacion_star": f"""
        WITH pagos AS (
            SELECT o_custkey AS id_usuario, o_totalprice AS valor_pagado,
                   o_orderdate AS fecha_pago
            FROM orders
        ),
        empresa_cotizante AS (
            SELECT c_custkey AS cotizante, c_nationkey AS empresa
            FROM customer WHERE c_custkey % 3 = 0
        ),
        preexistencias AS (
            SELECT c_custkey AS id_usuario, c_mktsegment AS enfermedad
            FROM customer WHERE c_custkey % 2 = 0
        ),
        cotizante AS (
            SELECT c_custkey AS cedula, c_nationkey AS id_ips FROM customer
        ),
        dim_cotizante AS (
            SELECT c_custkey + 1 AS cotizante_id, c_custkey AS cedula
            FROM customer
        ),
        dim_centro AS (
            SELECT n_nationkey + 1 AS centro_medico_id,
                   n_nationkey AS id_ips
            FROM nation
        ),
        dim_empresa AS (
            SELECT n_nationkey + 1 AS empresa_id, n_nationkey AS nit
            FROM nation
        ),
        dim_enfermedad AS (
            SELECT nombre,
                   row_number() OVER (ORDER BY nombre) AS enfermedad_id
            FROM (SELECT DISTINCT c_mktsegment AS nombre FROM customer)
        ),
        dim_fecha AS ({_DIM_FECHA_SQL})
        SELECT df.fecha_id, dcm.centro_medico_id, de.enfermedad_id,
               coalesce(demp.empresa_id, 0) AS empresa_id,
               dc.cotizante_id, p.valor_pagado
        FROM pagos p
        LEFT JOIN empresa_cotizante ec ON p.id_usuario = ec.cotizante
        LEFT JOIN preexistencias pre ON p.id_usuario = pre.id_usuario
        LEFT JOIN cotizante co ON p.id_usuario = co.cedula
        JOIN dim_cotizante dc ON p.id_usuario = dc.cedula
        JOIN dim_centro dcm ON co.id_ips = dcm.id_ips
        LEFT JOIN dim_empresa demp ON ec.empresa = demp.nit
        JOIN dim_enfermedad de ON pre.enfermedad = de.nombre
        JOIN dim_fecha df
          ON strftime(p.fecha_pago, '%Y-%m-%d') = df.fecha
    """,
    "fact_retiro_star": f"""
        WITH retiros AS (
            SELECT o_custkey AS id_usuario, o_orderdate AS fecha_retiro,
                   'EPS_' || CAST(o_orderkey % 5 AS VARCHAR) AS cambio_a_eps
            FROM orders WHERE o_orderstatus = 'F'
        ),
        cotizante AS (
            SELECT c_custkey AS cedula, c_nationkey AS id_ips FROM customer
        ),
        centro AS (
            SELECT n_nationkey + 1 AS centro_medico_id,
                   n_nationkey AS id_ips,
                   CASE CAST(n_nationkey % 9 AS INT) {_GOOD_CASE} END
                       AS municipio
            FROM nation
        ),
        dim_region AS (
            SELECT * FROM (VALUES {", ".join(
                f"({i + 1}, '{good}')" for i, (_, good) in enumerate(_MUNI)
            )}) AS t(region_id, municipio)
        ),
        dim_cotizante AS (
            SELECT c_custkey + 1 AS cotizante_id, c_custkey AS cedula
            FROM customer
        ),
        dim_fecha AS ({_DIM_FECHA_SQL})
        SELECT df.fecha_id, dr.region_id, ce.centro_medico_id,
               dc.cotizante_id, r.cambio_a_eps
        FROM retiros r
        JOIN cotizante co ON r.id_usuario = co.cedula
        JOIN centro ce ON co.id_ips = ce.id_ips
        JOIN dim_region dr ON ce.municipio = dr.municipio
        JOIN dim_cotizante dc ON r.id_usuario = dc.cedula
        JOIN dim_fecha df
          ON strftime(r.fecha_retiro, '%Y-%m-%d') = df.fecha
    """,
    "fact_service_star": f"""
        WITH base AS (
            SELECT o_orderkey,
                   o_custkey AS id_usuario,
                   o_custkey % 10 AS id_medico,
                   strftime(o_orderdate, '%Y-%m-%d') AS fecha_solicitud_str,
                   strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d')
                       AS fecha_atencion_str,
                   o_orderkey % 24 AS h_sol,
                   (o_orderkey * 7 + 5) % 24 AS h_ate,
                   CASE CAST(o_orderkey % 4 AS INT)
                        WHEN 0 THEN 'Cita General'
                        WHEN 1 THEN 'Urgencia'
                        WHEN 2 THEN 'Hospitalización'
                        ELSE 'Remision' END AS tipo_servicio,
                   CASE WHEN o_orderkey % 4 = 3
                        THEN 'SVC_' || CAST(o_orderkey % 10 AS VARCHAR)
                        ELSE o_orderpriority END AS diagnostico
            FROM orders
        )
        SELECT CAST(replace(b.fecha_solicitud_str, '-', '') AS BIGINT)
                   AS fecha_solicitud_id,
               b.h_sol + 1 AS hora_solicitud_id,
               CAST(replace(b.fecha_atencion_str, '-', '') AS BIGINT)
                   AS fecha_atencion_id,
               b.h_ate + 1 AS hora_atencion_id,
               b.id_usuario + 1 AS usuario_id,
               b.id_medico + 1 AS medico_id,
               CAST(s.s_nationkey % 9 AS INT) + 1 AS region_id,
               b.tipo_servicio, b.diagnostico
        FROM base b
        JOIN customer c ON b.id_usuario = c.c_custkey
        JOIN supplier s ON b.id_medico = s.s_suppkey
    """,
}
