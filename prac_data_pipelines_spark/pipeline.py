"""End-to-end pipeline orchestration: the reference's six-step flow
(extract → operating report → audit → analytics → KPIs → export) restated
as one DataFrame lineage with explicit materialization points.

The view dictionary (SURVEY §2.11) is the product surface: named derived
views consumed by the report sinks and the dashboard.

Materialization points — the reference computes each derived pandas frame
once and then writes, draws and serves it; ``run_pipeline`` does the same
with three ``localCheckpoint`` points:

1. the master (the 10-table join lineage), consumed by every view;
2. the balance-enriched charges frame, consumed by most of them;
3. each report-sized view (aggregated by currency, bucket, concept,
   client or column), checkpointed where its family is built.

The report-sized views are planned and checkpointed side by side on a
small thread pool (under the caller's job group), while the calling
thread plans the row-level views: building a plan is a chain of py4j
round trips, and the tiny aggregates leave the cores idle between jobs.

A checkpointed frame's plan is a ``LogicalRDD`` leaf, so a consumer's
``limit().toPandas()`` neither re-plans the join lineage nor re-runs the
aggregate (a ``.cache()`` lookup still canonicalizes the whole deep plan
on every action, and the cached master pins its broadcast dimension
tables). Row-level views (``reporte_cxc``, ``movimientos_*``,
``por_acreditar``, ``registros_*``, ``saldos_cliente``, ``sin_*``, the
``*_atipicas/os`` audits) stay lazy over the checkpointed frames: they
scale with the fact table and go to Parquet at scale.

Trade-offs: local checkpoints live in executor block storage and are not
recomputed when an executor is lost — the same trade ``incremental.py``,
``streaming/upsert.py`` and ``operators/sorting.py`` make. The views are a
snapshot of the sources as of the call: new data needs a new
``run_pipeline`` call.

Every view is computed per currency by ONE grouped pass where possible;
the per-currency split happens at the checkpointed lineage, not at the
scan.
"""

from __future__ import annotations

import argparse
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.profile import column_profile
from .operators.stats import zscore_columns
from .operators.windows import band_groups
from .plans import analytics as pa
from .plans import auditor as au
from .plans import kpis as pk
from .plans import reporte as pr
from .plans.master import ACTIVO, AS_OF_CXC, cxc_master_from_tpch
from .session import get_spark

CURRENCIES = ("MXN", "USD")
# threads planning and checkpointing report-sized views side by side
_SNAPSHOT_THREADS = 4


def run_pipeline(spark: SparkSession, sf_dir: str,
                 as_of: str = AS_OF_CXC) -> dict[str, DataFrame]:
    """Build the full named-view dictionary over the CxC master; runs the
    master, charges and report-sized views eagerly (module docstring)."""
    master = cxc_master_from_tpch(spark, sf_dir).localCheckpoint()
    charges = pr.with_cycle_metrics(
        pr.saldo_factura(master), as_of).localCheckpoint()

    with ThreadPoolExecutor(_SNAPSHOT_THREADS) as pool:

        def snapshot(plan, *args, **kwargs) -> Future:
            """Build ``plan(*args, **kwargs)`` and checkpoint it on a pool
            thread, under the caller's job group, local properties and
            session tags."""
            return pool.submit(inheritable_thread_target(spark)(
                lambda: plan(*args, **kwargs).localCheckpoint()))

        views: dict[str, DataFrame | Future] = {}

        # Analytics family (per currency; report-sized: checkpointed)
        for m in CURRENCIES:
            suf = m.lower()
            views[f"antiguedad_cartera_{suf}"] = snapshot(
                pa.antiguedad_cartera, master, as_of, m, charges=charges)
            views[f"antiguedad_por_cliente_{suf}"] = snapshot(
                pa.antiguedad_por_cliente, master, as_of, m, charges=charges)
            views[f"cartera_vencida_vs_vigente_{suf}"] = snapshot(
                pa.cartera_vencida_vs_vigente, master, as_of, m,
                charges=charges)
            views[f"resumen_concepto_cxc_{suf}"] = snapshot(
                pa.resumen_por_concepto, master, m)
            views[f"resumen_cancelados_cxc_{suf}"] = snapshot(
                pa.resumen_cancelados, master, m)
            views[f"resumen_ajustes_cxc_{suf}"] = snapshot(
                pa.resumen_ajustes, master, m)

        # KPI family (report-sized: checkpointed)
        views["kpis_resumen"] = snapshot(
            pk.kpi_rows, master, as_of, charges=charges)
        for m in CURRENCIES:
            suf = m.lower()
            views[f"kpis_concentracion_{suf}"] = snapshot(
                pk.concentracion_abc, master, m, charges=charges)
            views[f"kpis_limite_credito_{suf}"] = snapshot(
                pk.limite_credito, master, m, charges=charges)
            views[f"kpis_morosidad_cliente_{suf}"] = snapshot(
                pk.morosidad_por_cliente, master, as_of, m, charges=charges)

        # Audit family: column/summary audits checkpointed, row audits lazy
        views["auditoria_nulos"] = snapshot(pa.auditoria_nulos, master)
        activos = pr.active(master)
        views["sin_tipo_cliente"] = activos.filter(
            F.col("TIPO_CLIENTE").isNull())
        views["sin_vendedor"] = activos.filter(F.col("VENDEDOR").isNull())
        views["importes_atipicos"] = au.importes_atipicos(charges)
        views["recaudos_atipicos"] = au.recaudos_atipicos(charges)
        views["moras_atipicas"] = au.moras_atipicas(charges)
        views["resumen_auditoria"] = snapshot(
            au.resumen_auditoria, master, charges)
        views["calidad_datos"] = snapshot(column_profile, master)

        # Operating report family (row-level: lazy), planned on this
        # thread while the pool runs; it leads the dictionary
        report: dict[str, DataFrame] = {}
        report["reporte_cxc"] = charges
        report["movimientos_abiertos_cxc"] = charges.filter("SALDO_FACTURA > 0")
        report["movimientos_cerrados_cxc"] = charges.filter("SALDO_FACTURA <= 0")
        report["movimientos_abiertos_con_pagos"] = \
            pr.movimientos_con_pagos(master, charges, abiertos=True)
        report["movimientos_cerrados_con_pagos"] = \
            pr.movimientos_con_pagos(master, charges, abiertos=False)
        report["por_acreditar"] = pr.active(master).filter("TIPO_IMPTE = 'A'")
        # negated active-filter, not subtract(): a set-difference would
        # shuffle the full row width to deduplicate what a predicate
        # already expresses
        report["registros_cancelados_cxc"] = master.filter(~F.expr(ACTIVO))
        # Raw master with presentation banding (the reference's
        # registros_totales)
        _grp = F.coalesce("DOCTO_CC_ACR_ID", "DOCTO_CC_ID")
        report["registros_totales_cxc"] = band_groups(
            master, group_key=_grp,
            order_by=[_grp.asc(), F.col("TIPO_IMPTE").asc(),
                      F.col("DOCTO_CC_ID").asc()],
            partition_by=["CLIENTE_ID"])
        report["saldos_cliente"] = pr.saldo_cliente(master)
        # Full report + z-score enrichment for amount, collection delay,
        # and overdue age (the reference's movimientos_totales surface).
        totales = zscore_columns(
            charges, "IMPORTE", subset=charges["CONCEPTO"].contains("VENTA"),
            z_col="Z_IMPORTE", flag_col="ES_ATIPICO_IMPORTE")
        totales = zscore_columns(
            totales, "DELTA_RECAUDO",
            subset=F.col("DELTA_RECAUDO").isNotNull(),
            z_col="Z_RECAUDO", flag_col="ES_ATIPICO_RECAUDO")
        totales = zscore_columns(
            totales, "DELTA_MORA", subset=F.col("DELTA_MORA").isNotNull(),
            z_col="Z_MORA", flag_col="ES_ATIPICO_MORA")
        report["movimientos_totales_cxc"] = totales

        return {**report, **{
            name: v.result() if isinstance(v, Future) else v
            for name, v in views.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description="Run the CxC analytics pipeline")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="output")
    ap.add_argument("--as-of", default=AS_OF_CXC)
    ap.add_argument("--skip-export", action="store_true")
    ap.add_argument("--dashboard", type=int, metavar="PORT", default=None,
                    help="serve the interactive dashboard on PORT and block")
    ap.add_argument("--test-connection", metavar="JDBC_URL", default=None,
                    help="only probe the database connection and exit 0/1 "
                         "(reference main.py --test-connection parity)")
    ap.add_argument("--probe-query", default="SELECT 1",
                    help="dialect probe for --test-connection (Derby/DB2: "
                         "'VALUES 1'; Firebird: 'SELECT 1 FROM RDB$DATABASE')")
    args = ap.parse_args()

    spark = get_spark("cxc-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    if args.test_connection:
        from .sources.registry import probe_connection

        ok = probe_connection(spark, args.test_connection, args.probe_query)
        print("conexion exitosa" if ok else "conexion fallida")
        return 0 if ok else 1
    views = run_pipeline(spark, args.sf_dir, args.as_of)
    for name, df in views.items():
        print(f"{name}: {df.count()} rows")
    if not args.skip_export:
        from .sinks.pdf import export_pdf_report
        from .sinks.report import export_views
        written = export_views(views, args.out)
        pdf_views = {k: views[k] for k in (
            "kpis_resumen", "antiguedad_cartera_mxn", "antiguedad_cartera_usd",
            "cartera_vencida_vs_vigente_mxn", "kpis_concentracion_mxn",
        ) if k in views}
        written.append(export_pdf_report(pdf_views, f"{args.out}/dashboard_cxc.pdf"))
        print(f"wrote {len(written)} artifacts to {args.out}")
    if args.dashboard is not None:
        import time

        from .sinks.dashboard import serve_dashboard
        server, port = serve_dashboard(views, args.dashboard)
        print(f"dashboard: http://127.0.0.1:{port}/ (Ctrl-C to stop)")
        try:
            while True:
                time.sleep(3600)
        except KeyboardInterrupt:
            server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
