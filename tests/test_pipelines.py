"""Parity-layer tests: the CO_healthy pipelines as pure DataFrame
functions over synthetic sources (SURVEY §5.1-5.2). Each assertion pins
a semantic the reference exhibits (cited in the pipeline docstrings)."""

from __future__ import annotations

import pytest

from data_warehouse_co_healthy_spark.pipelines import (
    cleaning,
    dimensions as dims,
    medical_formula as mf,
    payment,
    retreat,
    service,
)
from tests.fixtures_co import make_sources


@pytest.fixture(scope="module")
def src(spark):
    return make_sources(spark)


@pytest.fixture(scope="module")
def built(spark, src):
    return {
        "dim_usuario": dims.dim_usuario(src["beneficiario"], src["cotizante"]),
        "dim_cotizante": dims.dim_cotizante(src["cotizante"]),
        "dim_medico": dims.dim_medico(src["medico"]),
        "dim_medicamento": dims.dim_medicamento(src["medicamentos"]),
        "dim_centro_medico": dims.dim_centro_medico(src["ips"]),
        "dim_fecha": dims.dim_fecha(spark),
        "dim_hora": dims.dim_hora(spark),
        "dim_region": dims.dim_region(src["regiones_co"]),
        "dim_enfermedad": dims.dim_enfermedad(src["preexistencias"]),
        "dim_empresa": dims.dim_empresa(src["empresa"]),
        "dim_demografica": dims.dim_demografica(src["cotizante"]),
    }


# ---------------------------------------------------------------- dims


def test_dim_fecha_golden(built):
    """1826 rows for 2006-2010; Spanish names; weekend flag
    (FIXTURES.md golden content; reference dimension.py:76-118)."""
    d = built["dim_fecha"].toPandas().set_index("fecha")
    assert len(d) == 1826
    assert d.loc["2006-01-01", "dia_semana"] == "Domingo"
    assert bool(d.loc["2006-01-01", "es_fin_de_semana"])
    assert d.loc["2006-01-02", "dia_semana"] == "Lunes"
    assert not bool(d.loc["2006-01-02", "es_fin_de_semana"])
    assert d.loc["2010-12-31", "mes"] == "diciembre"
    assert d.loc["2006-01-01", "fecha_id"] == 1
    assert d.loc["2010-12-31", "fecha_id"] == 1826


def test_dim_usuario_union_dedup(built):
    """contributors ∪ beneficiaries, duplicates collapsed (reference
    dimension.py:31-41): 4 distinct contributors + 2 beneficiaries."""
    u = built["dim_usuario"].toPandas()
    assert len(u) == 6
    assert set(u.identificacion) == {"C1", "C2", "C3", "C4", "B1", "B2"}
    assert u.usuario_id.is_unique


def test_surrogate_keys_dense_and_deterministic(built, src):
    m = built["dim_medicamento"].toPandas().sort_values("medicamento_id")
    assert list(m.medicamento_id) == [1, 2, 3]  # duplicate collapsed
    again = dims.dim_medicamento(src["medicamentos"]).toPandas()
    assert (
        m.sort_values("codigo").codigo.tolist()
        == again.sort_values("codigo").codigo.tolist()
    )


def test_dim_demografica_shared_tuple(built):
    """C1 and C4 (and C3) share one demographic tuple → 2 rows."""
    d = built["dim_demografica"].toPandas()
    assert len(d) == 2


def test_dim_enfermedad_distinct(built):
    d = built["dim_enfermedad"].toPandas()
    assert sorted(d.nombre) == ["diabetes", "hipertension"]


def test_accent_repair(src):
    """The when-chain repairs the mojibake city names (reference
    retreat_process.py:122-132)."""
    from pyspark.sql import functions as F

    a = (
        src["ips"]
        .withColumn("municipio", cleaning.repair_municipio(F.col("municipio")))
        .select("municipio")
        .toPandas()
    )
    assert set(a.municipio) == {"Bogotá D.C.", "Medellín", "Facatativá"}


# ------------------------------------------------------------ pipelines


def test_fact_medical_formula(built, src):
    """Explode grain + 4-way star join (reference
    medical_formula_process.py:116-121): F1 yields 2 rows (MED1;MED2),
    F2 1 row; F3 out-of-window and F4 unknown-medicine are dropped."""
    fact = mf.build_fact_medical_formula(
        src["formulas_medicas"],
        built["dim_usuario"],
        built["dim_medico"],
        built["dim_medicamento"],
        built["dim_fecha"],
    ).toPandas()
    assert len(fact) == 3
    assert set(fact.Codigo_Formula) == {"F1", "F2"}
    assert fact.columns.tolist() == [
        "fecha_id", "usuario_id", "medico_id", "medicamento_id",
        "Codigo_Formula",
    ]


def test_fact_facturacion(built, src):
    """Payment quirks (reference payment_process.py:149-162):
    C4 (no preexistence) dropped by the inner disease join; C1's 2012
    payment dropped by the date join; C2 has no company → empresa_id=0.
    The duplicate C2 source row fans its payment out to 2 fact rows —
    the reference joins the RAW cotizante scan the same way (:151), so
    this duplication is faithful behavior, pinned here."""
    fact = payment.build_fact_facturacion(
        src["pagos"],
        src["cotizante"],
        src["empresa_cotizante"],
        src["preexistencias"],
        built["dim_cotizante"],
        built["dim_centro_medico"],
        built["dim_empresa"],
        built["dim_enfermedad"],
        built["dim_fecha"],
    ).toPandas()
    assert len(fact) == 4
    assert set(fact.valor_pagado) == {100.0, 200.0, 300.0}
    assert (fact.valor_pagado == 200.0).sum() == 2  # dup source row fan-out
    assert (fact[fact.valor_pagado == 200.0].empresa_id == 0).all()
    assert (fact[fact.valor_pagado == 300.0].empresa_id > 0).all()


def test_fact_retiro(built, src):
    """Accent repair feeds the region join (reference
    retreat_process.py:157-165): both in-window retiros survive, the
    2012 one is dropped."""
    fact = retreat.build_fact_retiro(
        src["retiros"],
        src["cotizante"],
        built["dim_centro_medico"],
        built["dim_region"],
        built["dim_cotizante"],
        built["dim_fecha"],
    ).toPandas()
    assert len(fact) == 2
    assert set(fact.cambio_a_eps) == {"EPS Sura", "EPS Sanitas"}


def test_fact_servicio(built, src):
    """4-way positional union + role-playing hour/date dims (reference
    service_process.py:135-158): RE2 dropped by the servicios_pos inner
    join; remission diagnostico comes from descripcion."""
    services = service.align_services(
        src["citas_generales"],
        src["urgencias"],
        src["hospitalizaciones"],
        src["remisiones"],
        src["servicios_pos"],
    )
    assert services.count() == 4  # 1+1+1+1 (RE2 lost at enrichment)
    fact = service.build_fact_servicio(
        services,
        src["medico"],
        src["ips"],
        built["dim_usuario"],
        built["dim_medico"],
        built["dim_hora"],
        built["dim_fecha"],
        built["dim_region"],
    ).toPandas()
    assert len(fact) == 4
    assert set(fact.tipo_servicio) == {
        "Cita General", "Urgencia", "Hospitalización", "Remision",
    }
    rem = fact[fact.tipo_servicio == "Remision"].iloc[0]
    assert rem.diagnostico == "resonancia magnetica"
    assert (fact.hora_solicitud_id != fact.hora_atencion_id).any()


def test_runner_builds_full_warehouse(spark, src):
    """O1 parity: one call builds 11 dims + 4 facts (reference
    process.py runs 4 pipelines that each rebuild their dims)."""
    from data_warehouse_co_healthy_spark.pipelines.runner import run_all

    out = run_all(spark, src)
    assert len(out) == 15
    assert out["fact_medical_formula"].count() == 3
    assert out["fact_retiro"].count() == 2
    assert out["dim_fecha"].count() == 1826
    for v in out.values():
        v.unpersist()


def _codegen_compiles(spark) -> int:
    """Classes Janino compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_fact_star_pass_compiles_nothing(spark, tmp_path):
    """Each of two rounds builds the four CO fact stars, writes each
    to parquet, reads it back and aggregates every column (the etl
    benchmark's operation). The second round must find every
    generated class in the codegen cache: at the default cache size
    of 100 it recompiled about 95 of them."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.plans.queries import QUERIES
    from data_warehouse_co_healthy_spark.sources.writers import (
        write_parquet,
    )
    from tests.conftest import SF_DIR

    def one_round(tag):
        for name in ("fact_formula_star", "fact_facturacion_star",
                     "fact_retiro_star", "fact_service_star"):
            df = QUERIES[name](spark, SF_DIR)
            path = str(tmp_path / tag / name)
            part = ("anio",) if "anio" in df.columns else ()
            write_parquet(df, path, partition_by=part)
            back = spark.read.parquet(path)
            back.select(
                F.count(F.lit(1)),
                F.sum(F.xxhash64(*[F.col(f"`{c}`") for c in back.columns])
                      .cast("decimal(20,0)")),
            ).collect()

    one_round("cold")
    before = _codegen_compiles(spark)
    one_round("warm")
    assert _codegen_compiles(spark) - before == 0
