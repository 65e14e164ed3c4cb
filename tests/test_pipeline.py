"""End-to-end pipeline: the full view dictionary materializes with sane
shapes, the report-sized views are checkpointed snapshots of their plans,
and the export sink writes an artifact per view."""

from __future__ import annotations

import os
import re
import tempfile

import pytest

EXPECTED_VIEWS = {
    "reporte_cxc", "movimientos_abiertos_cxc", "movimientos_cerrados_cxc",
    "movimientos_abiertos_con_pagos", "movimientos_cerrados_con_pagos",
    "por_acreditar", "registros_cancelados_cxc", "registros_totales_cxc",
    "sin_tipo_cliente", "sin_vendedor", "saldos_cliente",
    "movimientos_totales_cxc",
    "antiguedad_cartera_mxn", "antiguedad_cartera_usd",
    "antiguedad_por_cliente_mxn", "antiguedad_por_cliente_usd",
    "cartera_vencida_vs_vigente_mxn", "cartera_vencida_vs_vigente_usd",
    "resumen_concepto_cxc_mxn", "resumen_concepto_cxc_usd",
    "resumen_cancelados_cxc_mxn", "resumen_cancelados_cxc_usd",
    "resumen_ajustes_cxc_mxn", "resumen_ajustes_cxc_usd",
    "kpis_resumen", "kpis_concentracion_mxn", "kpis_concentracion_usd",
    "kpis_limite_credito_mxn", "kpis_limite_credito_usd",
    "kpis_morosidad_cliente_mxn", "kpis_morosidad_cliente_usd",
    "auditoria_nulos", "importes_atipicos", "recaudos_atipicos",
    "moras_atipicas", "resumen_auditoria", "calidad_datos",
}
# aggregated by currency, bucket, concept, client or column: checkpointed
REPORT_SIZED = {n for n in EXPECTED_VIEWS if n.startswith((
    "antiguedad_", "cartera_vencida_vs_vigente_", "resumen_", "kpis_"))} | {
    "auditoria_nulos", "calidad_datos"}


@pytest.fixture(scope="module")
def views(spark, sf_dir):
    from prac_data_pipelines_spark.pipeline import run_pipeline

    return run_pipeline(spark, sf_dir)


def _analyzed_operators(df) -> list[str]:
    """Operator names of the analyzed logical plan, root first."""
    tree = df._jdf.queryExecution().analyzed().treeString()
    return [re.sub(r"^[\s:+-]*", "", line).split(" ", 1)[0]
            for line in tree.splitlines() if line.strip()]


def test_pipeline_views(views):
    assert set(views) == EXPECTED_VIEWS
    counts = {name: df.count() for name, df in views.items()}
    # z-outlier audits are legitimately empty on near-uniform synthetic data
    # (a bounded distribution caps |z| below the 3.0 threshold)
    may_be_empty = {"importes_atipicos", "recaudos_atipicos"}
    empty = {k: v for k, v in counts.items() if v == 0 and k not in may_be_empty}
    assert not empty, empty
    # balance identity: open + closed = all charges
    assert (counts["movimientos_abiertos_cxc"] + counts["movimientos_cerrados_cxc"]
            == counts["reporte_cxc"])
    # KPI summary: 3 KPIs × 2 currencies
    assert counts["kpis_resumen"] == 6


def test_report_sized_views_are_lineage_cut(views):
    assert len(REPORT_SIZED) == 22
    for name in sorted(REPORT_SIZED):
        ops = _analyzed_operators(views[name])
        assert not [o for o in ops if o.startswith(("Join", "Aggregate"))], \
            (name, ops)
        assert ops[-1] == "LogicalRDD", (name, ops)


def test_row_level_views_stay_lazy(views):
    # movement grain: they scale with the fact table, so they are planned
    # over the checkpointed master, never checkpointed themselves
    for name in ("registros_totales_cxc", "saldos_cliente"):
        ops = _analyzed_operators(views[name])
        assert "Window" in ops and len(ops) > 1, (name, ops)


def test_checkpointed_views_match_their_plans(spark, sf_dir, views):
    from prac_data_pipelines_spark.operators.profile import column_profile
    from prac_data_pipelines_spark.plans import analytics as pa
    from prac_data_pipelines_spark.plans import kpis as pk
    from prac_data_pipelines_spark.plans.master import (
        AS_OF_CXC, cxc_master_from_tpch)
    from prac_data_pipelines_spark.testing import compare_frames

    master = cxc_master_from_tpch(spark, sf_dir)  # lazy: no checkpoint
    plans = {
        "kpis_resumen": pk.kpi_rows(master, AS_OF_CXC),
        "kpis_concentracion_mxn": pk.concentracion_abc(master, "MXN"),
        "antiguedad_por_cliente_mxn":
            pa.antiguedad_por_cliente(master, AS_OF_CXC, "MXN"),
        "cartera_vencida_vs_vigente_usd":
            pa.cartera_vencida_vs_vigente(master, AS_OF_CXC, "USD"),
        "calidad_datos": column_profile(master),
    }
    for name, plan in plans.items():
        want = plan.toPandas()
        assert len(want), name
        assert compare_frames(views[name].toPandas(), want) == [], name


@pytest.mark.parametrize("name", [
    "kpis_limite_credito_mxn", "kpis_limite_credito_usd",
    "kpis_morosidad_cliente_mxn", "kpis_morosidad_cliente_usd"])
def test_per_client_kpis_dual_sorted(views, name):
    # reference src/kpis.py:216-220,281-285: clients with a pending
    # balance by balance descending, then the rest by name
    rows = views[name].collect()
    head, tail = [], []
    for r in rows:
        pending = r.SALDO_PENDIENTE is not None and r.SALDO_PENDIENTE > 0
        (head if pending else tail).append(r)
    assert head
    want = (sorted(head, key=lambda r: (-r.SALDO_PENDIENTE, r.CLIENTE_ID))
            + sorted(tail, key=lambda r: (r.NOMBRE_CLIENTE is None,
                                          r.NOMBRE_CLIENTE or "",
                                          r.CLIENTE_ID)))
    assert rows == want


def test_pipeline_export(views):
    from prac_data_pipelines_spark.sinks.report import export_views

    subset = {k: views[k] for k in ("antiguedad_cartera_mxn", "kpis_resumen",
                                    "calidad_datos", "saldos_cliente")}
    with tempfile.TemporaryDirectory() as d:
        written = export_views(subset, d)
        # three-workbook reference layout: the two analysis views share
        # 02_analisis, calidad_datos goes to 00_auditoria, and the view
        # outside the reference layout lands in the catch-all workbook
        names = sorted(os.path.basename(p) for p in written)
        assert names == ["00_auditoria_cxc.xlsx", "02_analisis_cxc.xlsx",
                         "99_vistas_cxc.xlsx"]
        for p in written:
            assert os.path.exists(p) and os.path.getsize(p) > 0

        import xml.etree.ElementTree as ET
        import zipfile
        ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
        with zipfile.ZipFile(os.path.join(d, "02_analisis_cxc.xlsx")) as zf:
            root = ET.fromstring(zf.read("xl/workbook.xml"))
        sheets = [s.get("name") for s in root.findall(".//m:sheet", ns)]
        assert sheets == ["antiguedad_cartera_mxn", "kpis_resumen"]


def test_repeated_run_pipeline_caches_nothing(spark, sf_dir, views):
    """A second ``run_pipeline`` call leaves the CacheManager as it found
    it: the views are checkpoint snapshots, so no frame inside them is
    cached, and repeated calls (a dashboard refresh) accrete nothing."""
    from prac_data_pipelines_spark.pipeline import run_pipeline

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    run_pipeline(spark, sf_dir)
    assert cache.cachedData().size() == before
