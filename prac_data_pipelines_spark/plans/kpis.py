"""Strategic KPI layer: DSO, CEI, delinquency index, Pareto/ABC
concentration, credit-limit utilization — per currency.

Parity targets: SURVEY §2.12 formulas. Spark-first restatement: instead of
the reference's filter-twice-per-currency loop, every scalar is ONE
conditional aggregation grouped by MONEDA (single scan, map-side combined),
then unpivoted into (moneda, kpi, valor, interpretacion) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CREDITO_UMBRAL_ALTO, CREDITO_UMBRAL_CRITICO, KPI_PERIODO_DIAS
from ..operators.rounding import r2, r4
from ..operators.sorting import dual_sort_keys
from ..operators.windows import pareto_abc
from .reporte import active, monto, saldo_factura, with_cycle_metrics


def _es_venta():
    return (F.col("TIPO_IMPTE") == "C") & F.col("CONCEPTO").contains("VENTA")


def _por_saldo():
    """Per-client row order (reference ``src/kpis.py:216-220,281-285``):
    the stratified dual sort, CLIENTE_ID as the total-order tiebreaker."""
    return [*dual_sort_keys(F.col("SALDO_PENDIENTE"), F.col("NOMBRE_CLIENTE")),
            F.col("CLIENTE_ID").asc()]


def kpi_scalars(master: DataFrame, as_of: str,
                periodo_dias: int = KPI_PERIODO_DIAS,
                charges: DataFrame | None = None) -> DataFrame:
    """One row per currency with every KPI input aggregated conditionally
    (reference formulas ``src/kpis.py:68-114``)."""
    if charges is None:
        charges = with_cycle_metrics(saldo_factura(master), as_of)
    venta_saldos = (
        charges.filter(_es_venta())
        .groupBy("MONEDA")
        .agg(
            F.sum(F.when(F.col("SALDO_FACTURA") > 0, F.col("SALDO_FACTURA"))
                  .otherwise(0.0)).alias("_saldo_total"),
            F.sum(F.when((F.col("SALDO_FACTURA") > 0) & (F.col("DELTA_MORA") > 0),
                         F.col("SALDO_FACTURA")).otherwise(0.0)).alias("_saldo_vencido"),
        )
    )
    inicio = F.date_sub(F.lit(as_of).cast("date"), periodo_dias)
    act = active(master).filter(F.col("TIPO_IMPTE") != "A")
    en_periodo = F.col("FECHA_EMISION") >= inicio
    flujos = (
        act.groupBy("MONEDA")
        .agg(
            F.sum(F.when(_es_venta() & en_periodo, r2(monto())).otherwise(0.0))
            .alias("_ventas_periodo"),
            F.sum(F.when((F.col("NATURALEZA_CONCEPTO") == "C") & en_periodo,
                         r2(monto())).otherwise(0.0)).alias("_cargos_periodo"),
            F.sum(F.when((F.col("NATURALEZA_CONCEPTO") == "R") & en_periodo,
                         r2(monto())).otherwise(0.0)).alias("_cobros_periodo"),
            F.sum(F.when(F.col("NATURALEZA_CONCEPTO") == "C", r2(monto()))
                  .otherwise(F.when(F.col("NATURALEZA_CONCEPTO") == "R", -r2(monto()))
                             .otherwise(0.0))).alias("_saldo_actual"),
        )
    )
    j = venta_saldos.join(flujos, "MONEDA", "full_outer").na.fill(0.0)
    saldo_inicio = F.col("_saldo_actual") - F.col("_cargos_periodo") + F.col("_cobros_periodo")
    cobrable = saldo_inicio + F.col("_cargos_periodo")
    dso = F.when(F.col("_ventas_periodo") > 0,
                 F.col("_saldo_total") / F.col("_ventas_periodo") * periodo_dias)
    cei = F.when(cobrable > 0, F.col("_cobros_periodo") / cobrable).otherwise(F.lit(1.0))
    morosidad = F.when(F.col("_saldo_total") > 0,
                       F.col("_saldo_vencido") / F.col("_saldo_total")).otherwise(F.lit(0.0))
    return j.select(
        "MONEDA",
        r2(F.col("_saldo_total")).alias("saldo_total"),
        r2(F.col("_ventas_periodo")).alias("ventas_periodo"),
        r2(F.col("_cobros_periodo")).alias("cobros_periodo"),
        r4(dso).alias("dso"),
        r4(cei).alias("cei"),
        r4(morosidad).alias("morosidad"),
    )


def kpi_rows(master: DataFrame, as_of: str,
             charges: DataFrame | None = None) -> DataFrame:
    """(moneda, kpi, valor, interpretacion) — the reference's 3-row summary
    (``src/kpis.py:95-114``)."""
    s = kpi_scalars(master, as_of, charges=charges)
    # unpivot with stack() instead of a 3-branch union: each union branch
    # re-executes the whole kpi_scalars subtree (master assembly included —
    # Spark reuses no mid-plan results across union arms), tripling the
    # query; stack is a projection over the one-row-per-currency aggregate
    stacked = s.selectExpr(
        "MONEDA",
        "stack(3, 'DSO', dso, 'CEI', cei, 'MOROSIDAD', morosidad)"
        " AS (kpi, valor)")
    k, v = F.col("kpi"), F.col("valor")
    interp = (
        F.when((k == "DSO") & (v <= 45), "EXCELENTE")
        .when((k == "DSO") & (v <= 75), "ACEPTABLE")
        .when(k == "DSO", "CRITICO")
        .when((k == "CEI") & (v >= 0.9), "EXCELENTE")
        .when((k == "CEI") & (v >= 0.7), "ACEPTABLE")
        .when(k == "CEI", "CRITICO")
        .when((k == "MOROSIDAD") & (v <= 0.05), "SANA")
        .when((k == "MOROSIDAD") & (v <= 0.15), "VIGILAR")
        .otherwise("CRITICA"))
    return stacked.select("MONEDA", "kpi", "valor",
                          interp.alias("interpretacion"))


def concentracion_abc(master: DataFrame, moneda: str = "MXN",
                      charges: DataFrame | None = None) -> DataFrame:
    """Per-client open-balance concentration with Pareto/ABC classes
    (reference ``src/kpis.py:117-161``)."""
    if charges is None:
        charges = saldo_factura(master)
    charges = charges.filter(
        (F.col("MONEDA") == moneda) & (F.col("SALDO_FACTURA") > 0))
    per_client = (
        charges.groupBy("CLIENTE_ID", "NOMBRE_CLIENTE")
        .agg(r2(F.sum("SALDO_FACTURA")).alias("SALDO_PENDIENTE"))
    )
    return pareto_abc(per_client, "SALDO_PENDIENTE",
                      key_order=[F.col("CLIENTE_ID").asc()],
                      pct_col="PCT", cum_col="PCT_ACUMULADO", abc_col="CLASE_ABC",
                      materialize=True)


def limite_credito(master: DataFrame, moneda: str = "MXN",
                   charges: DataFrame | None = None) -> DataFrame:
    """Credit-limit utilization ladder per client (SIN_LIMITE / SOBRE_LIMITE /
    CRITICO / ALTO / NORMAL; reference ``src/kpis.py:164-238``)."""
    if charges is None:
        charges = saldo_factura(master)
    charges = charges.filter(
        (F.col("MONEDA") == moneda) & (F.col("SALDO_FACTURA") > 0))
    per_client = (
        charges.groupBy("CLIENTE_ID", "NOMBRE_CLIENTE", "LIMITE_CREDITO")
        .agg(r2(F.sum("SALDO_FACTURA")).alias("SALDO_PENDIENTE"))
    )
    sin_limite = (F.col("LIMITE_CREDITO") <= 0) | F.col("LIMITE_CREDITO").isNull()
    util = F.when(~sin_limite, r4(F.col("SALDO_PENDIENTE") / F.col("LIMITE_CREDITO")))
    alerta = (F.when(sin_limite, "SIN_LIMITE")
               .when(util > 1.0, "SOBRE_LIMITE")
               .when(util >= CREDITO_UMBRAL_CRITICO, "CRITICO")
               .when(util >= CREDITO_UMBRAL_ALTO, "ALTO")
               .otherwise("NORMAL"))
    disponible = F.when(sin_limite, F.lit(0.0)).otherwise(
        r2(F.col("LIMITE_CREDITO") - F.col("SALDO_PENDIENTE")))
    return per_client.select(
        "CLIENTE_ID", "NOMBRE_CLIENTE", "LIMITE_CREDITO", "SALDO_PENDIENTE",
        util.alias("UTILIZACION_PCT"), disponible.alias("DISPONIBLE"),
        alerta.alias("ALERTA"),
    ).orderBy(*_por_saldo())


def morosidad_por_cliente(master: DataFrame, as_of: str,
                          moneda: str = "MXN",
                          charges: DataFrame | None = None) -> DataFrame:
    """Per-client delinquency: counts of open/current/overdue sale invoices,
    conditional balance sums, max days overdue (reference ``src/kpis.py:241-303``)."""
    if charges is None:
        charges = with_cycle_metrics(saldo_factura(master), as_of)
    charges = charges.filter(
        _es_venta() & (F.col("MONEDA") == moneda))
    is_open = F.col("SALDO_FACTURA") > 0
    vencida = is_open & (F.col("DELTA_MORA") > 0)
    vigente = is_open & (F.col("DELTA_MORA") <= 0)
    return (
        charges.groupBy("CLIENTE_ID", "NOMBRE_CLIENTE")
        .agg(
            F.count(F.lit(1)).cast("long").alias("N_FACTURAS"),
            F.sum(is_open.cast("int")).cast("long").alias("N_PENDIENTES"),
            F.sum(vigente.cast("int")).cast("long").alias("N_VIGENTES"),
            F.sum(vencida.cast("int")).cast("long").alias("N_VENCIDAS"),
            r2(F.sum(F.when(is_open, F.col("SALDO_FACTURA")).otherwise(0.0)))
            .alias("SALDO_PENDIENTE"),
            r2(F.sum(F.when(vencida, F.col("SALDO_FACTURA")).otherwise(0.0)))
            .alias("SALDO_VENCIDO"),
            F.max(F.when(vencida, F.col("DELTA_MORA"))).cast("long")
            .alias("MAX_DIAS_VENCIDO"),
        )
        .orderBy(*_por_saldo())
    )
