"""Interactive dashboard over the view dictionary — stdlib only.

The reference serves five Streamlit pages over the exported artifacts
(``/root/reference/dashboard/app.py:150-181``, ``dashboard/pages/*``).
Neither streamlit nor plotly exists in this container, so the same
surface is served with ``http.server``: five navigable HTML pages (
resumen / cartera / clientes / kpis / auditoria) rendered from collected
report-sized frames, with KPI cards, inline SVG charts (donut, bars,
Pareto) and styled tables, plus a ``/refresh`` endpoint that drops the
collected frames — the stdlib equivalent of the reference's cache-clear +
rerun button.

The views are the snapshot ``run_pipeline`` materialized: report-sized
views are checkpointed, row-level views are lazy over the checkpointed
master and charges. A page collects bounded, engine-filtered heads of
them; ``/refresh`` re-reads that snapshot (new source data needs a new
``run_pipeline`` and a new server). Requests render concurrently
(``ThreadingHTTPServer``), so a request's filters travel through the
render calls, never through shared state.
"""

from __future__ import annotations

import html
import math
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AZUL, VERDE, AMARILLO, ROJO = "#4472C4", "#548235", "#FFC000", "#C00000"
GRIS, FONDO, BORDE = "#A6A6A6", "#F2F2F2", "#B4C6E7"

PAGES = [
    ("resumen", "Resumen Ejecutivo"),
    ("cartera", "Cartera & Antiguedad"),
    ("clientes", "Analisis por Cliente"),
    ("kpis", "KPIs Estrategicos"),
    ("auditoria", "Auditoria"),
]

_CSS = f"""
body {{ font-family: Cambria, Georgia, serif; margin: 0; color: #333; }}
nav {{ background: {AZUL}; padding: 10px 24px; }}
nav a {{ color: white; margin-right: 18px; text-decoration: none;
        font-weight: bold; }}
nav a.active {{ border-bottom: 2px solid white; }}
main {{ padding: 18px 24px; max-width: 1100px; }}
h1 {{ color: {AZUL}; }}
table {{ border-collapse: collapse; margin: 10px 0 24px; }}
th {{ background: {AZUL}; color: white; padding: 5px 10px;
     border: 1px solid {BORDE}; font-size: 13px; }}
td {{ padding: 4px 10px; border: 1px solid {BORDE}; font-size: 13px;
     text-align: center; }}
tr:nth-child(even) td {{ background: {FONDO}; }}
tr.total td {{ background: {GRIS}; color: white; font-weight: bold; }}
.cards {{ display: flex; gap: 16px; flex-wrap: wrap; }}
.card {{ border: 1px solid {BORDE}; border-left: 5px solid {AZUL};
        padding: 10px 16px; min-width: 150px; }}
.card .v {{ font-size: 22px; font-weight: bold; }}
.card .l {{ font-size: 12px; color: #666; }}
.filters {{ background: {FONDO}; border: 1px solid {BORDE}; padding: 8px 12px;
           display: flex; gap: 10px; align-items: center; font-size: 13px; }}
.filters input[type=text], .filters input:not([type]) {{ padding: 3px 6px; }}
"""


def apply_view_filters(df: DataFrame | None,
                       filters: dict[str, list[str]] | None) -> DataFrame | None:
    """Interactive filters applied ENGINE-side, before the bounded collect —
    Catalyst pushes the predicates into the scan instead of pandas trimming
    an already-collected head.

    Mirrors the reference dashboard's sidebar filters
    (``dashboard/data_loader.py:149-186`` client/vendor ``isin``;
    ``dashboard/pages/02_cartera.py:232-238`` case-insensitive substring
    search; ``dashboard/pages/03_clientes.py:94-117`` mora-category and
    saldo>0 filters), including its defensive degradation: a filter whose
    column the view lacks is silently skipped.
    """
    if df is None or not filters:
        return df
    cols = set(df.columns)
    clientes = filters.get("cliente") or []
    if clientes and "NOMBRE_CLIENTE" in cols:
        df = df.filter(F.col("NOMBRE_CLIENTE").isin(clientes))
    vendedores = filters.get("vendedor") or []
    if vendedores and "VENDEDOR" in cols:
        df = df.filter(F.col("VENDEDOR").isin(vendedores))
    buscar = (filters.get("buscar") or [""])[0]
    if buscar and "NOMBRE_CLIENTE" in cols:
        df = df.filter(
            F.lower(F.col("NOMBRE_CLIENTE")).contains(buscar.lower()))
    moras = filters.get("mora") or []
    if moras and "CATEGORIA_MORA" in cols:
        df = df.filter(F.col("CATEGORIA_MORA").isin(moras))
    if (filters.get("solo_saldo") or ["0"])[0] in ("1", "true", "on"):
        for c in ("SALDO_TOTAL", "SALDO_PENDIENTE", "SALDO_FACTURA"):
            if c in cols:
                df = df.filter(F.col(c) > 0)
                break
    return df


FILTER_KEYS = ("cliente", "vendedor", "buscar", "mora", "solo_saldo")
# the columns each filter reads in ``apply_view_filters``
_FILTER_COLUMNS = {
    "cliente": ("NOMBRE_CLIENTE",),
    "vendedor": ("VENDEDOR",),
    "buscar": ("NOMBRE_CLIENTE",),
    "mora": ("CATEGORIA_MORA",),
    "solo_saldo": ("SALDO_TOTAL", "SALDO_PENDIENTE", "SALDO_FACTURA"),
}


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:,.2f}"
    return "" if v is None else str(v)


def table_html(pdf, max_rows: int = 15) -> str:
    if pdf is None or pdf.empty:
        return "<p><em>sin datos</em></p>"
    head = "".join(f"<th>{html.escape(str(c))}</th>" for c in pdf.columns)
    body = []
    shown = pdf.head(max_rows)
    for _, row in shown.iterrows():
        is_total = str(row.iloc[0]).strip().upper() == "TOTAL"
        tds = "".join(f"<td>{html.escape(_fmt(v))}</td>" for v in row)
        body.append(f'<tr class="{"total" if is_total else ""}">{tds}</tr>')
    more = (f"<p><em>{len(pdf) - max_rows} filas mas…</em></p>"
            if len(pdf) > max_rows else "")
    return (f"<table><tr>{head}</tr>{''.join(body)}</table>{more}")


def svg_donut(items: list[tuple[str, float, str]], size: int = 220) -> str:
    total = sum(v for _, v, _ in items) or 1.0
    cx = cy = size / 2
    r, ri = size * 0.42, size * 0.25
    a = math.pi / 2
    parts = []
    for label, value, color in items:
        sweep = 2 * math.pi * value / total
        b = a + sweep
        large = 1 if sweep > math.pi else 0
        x0, y0 = cx + r * math.cos(a), cy - r * math.sin(a)
        x1, y1 = cx + r * math.cos(b), cy - r * math.sin(b)
        xi1, yi1 = cx + ri * math.cos(b), cy - ri * math.sin(b)
        xi0, yi0 = cx + ri * math.cos(a), cy - ri * math.sin(a)
        parts.append(
            f'<path d="M{x0:.1f},{y0:.1f} A{r:.1f},{r:.1f} 0 {large} 0 '
            f'{x1:.1f},{y1:.1f} L{xi1:.1f},{yi1:.1f} '
            f'A{ri:.1f},{ri:.1f} 0 {large} 1 {xi0:.1f},{yi0:.1f} Z" '
            f'fill="{color}" stroke="white" stroke-width="2">'
            f"<title>{html.escape(label)}: {100 * value / total:.1f}%</title>"
            f"</path>")
        mid = a + sweep / 2
        pr = (r + ri) / 2
        parts.append(
            f'<text x="{cx + pr * math.cos(mid):.1f}" '
            f'y="{cy - pr * math.sin(mid):.1f}" text-anchor="middle" '
            f'font-size="12" font-weight="bold">'
            f"{100 * value / total:.1f}%</text>")
        a = b
    legend = "".join(
        f'<rect x="{size + 10}" y="{18 * i + 10}" width="12" height="12" '
        f'fill="{color}"/><text x="{size + 28}" y="{18 * i + 20}" '
        f'font-size="12">{html.escape(label)}</text>'
        for i, (label, _, color) in enumerate(items))
    return (f'<svg width="{size + 180}" height="{size}" role="img">'
            f"{''.join(parts)}{legend}</svg>")


def svg_barh(items: list[tuple[str, float, str]], width: int = 560) -> str:
    if not items:
        return ""
    vmax = max(v for _, v, _ in items) or 1.0
    row_h, label_w = 24, 150
    h = row_h * len(items) + 10
    parts = []
    for i, (label, value, color) in enumerate(items):
        y = 5 + i * row_h
        bw = (width - label_w - 90) * value / vmax
        parts.append(
            f'<text x="{label_w - 6}" y="{y + 15}" text-anchor="end" '
            f'font-size="11">{html.escape(str(label)[:22])}</text>'
            f'<rect x="{label_w}" y="{y + 3}" width="{max(bw, 1):.1f}" '
            f'height="{row_h - 8}" fill="{color}"/>'
            f'<text x="{label_w + bw + 6:.1f}" y="{y + 15}" font-size="11">'
            f"${value:,.0f}</text>")
    return f'<svg width="{width}" height="{h}" role="img">{"".join(parts)}</svg>'


def svg_pareto(names: list[str], values: list[float],
               cum_pcts: list[float], width: int = 640,
               height: int = 240) -> str:
    if not names:
        return ""
    vmax = max(values) or 1.0
    n = len(names)
    pad, bot = 50, 50
    plot_w, plot_h = width - 2 * pad, height - bot - 10
    slot = plot_w / n
    parts = [f'<line x1="{pad}" y1="{height - bot}" x2="{width - pad}" '
             f'y2="{height - bot}" stroke="{GRIS}"/>']
    y80 = height - bot - plot_h * 80 / 105
    parts.append(f'<line x1="{pad}" y1="{y80:.1f}" x2="{width - pad}" '
                 f'y2="{y80:.1f}" stroke="{GRIS}" stroke-dasharray="4 3"/>')
    pts = []
    for i, (name, value, cum) in enumerate(zip(names, values, cum_pcts)):
        bh = plot_h * value / vmax
        x = pad + i * slot + slot * 0.15
        parts.append(
            f'<rect x="{x:.1f}" y="{height - bot - bh:.1f}" '
            f'width="{slot * 0.7:.1f}" height="{bh:.1f}" fill="{AZUL}">'
            f"<title>{html.escape(str(name))}: {value:,.0f}</title></rect>")
        px = pad + i * slot + slot / 2
        py = height - bot - plot_h * min(cum, 105) / 105
        pts.append(f"{px:.1f},{py:.1f}")
        parts.append(
            f'<circle cx="{px:.1f}" cy="{py:.1f}" r="3" fill="{ROJO}"/>'
            f'<text x="{px:.1f}" y="{height - bot + 12}" font-size="9" '
            f'text-anchor="end" transform="rotate(-40 {px:.1f} '
            f'{height - bot + 12})">{html.escape(str(name)[:14])}</text>')
    parts.append(f'<polyline points="{" ".join(pts)}" fill="none" '
                 f'stroke="{ROJO}" stroke-width="2"/>')
    return f'<svg width="{width}" height="{height}" role="img">{"".join(parts)}</svg>'


def kpi_cards(pdf) -> str:
    if pdf is None or pdf.empty:
        return ""
    cards = []
    for _, row in pdf.head(8).iterrows():
        label = " ".join(str(row.iloc[i]) for i in range(min(2, len(row))))
        val = next((row[c] for c in ("VALOR",) if c in row.index), row.iloc[-1])
        cards.append(f'<div class="card"><div class="v">{html.escape(_fmt(val))}'
                     f'</div><div class="l">{html.escape(label)}</div></div>')
    return f'<div class="cards">{"".join(cards)}</div>'


class Dashboard:
    """Collects bounded view heads on demand, renders the five pages,
    serves them."""

    def __init__(self, views: dict[str, DataFrame]) -> None:
        self._views = views
        self._cache: dict[tuple, object] = {}

    def _pdf(self, name: str, filters: dict[str, list[str]],
             limit: int = 500):
        """The view's filtered head, cached per view and per the filters
        that apply to it: a filter on a column the view lacks is skipped
        by ``apply_view_filters``, so it does not split the cache."""
        df = self._views.get(name)
        if df is None:
            return None
        cols = set(df.columns)
        key = (name, tuple((k, tuple(v)) for k, v in sorted(filters.items())
                           if cols.intersection(_FILTER_COLUMNS[k])))
        # read once into a local: a concurrent /refresh may clear the cache
        # between a check and a second lookup
        pdf = self._cache.get(key)
        if pdf is None:
            pdf = self._cache[key] = (apply_view_filters(df, filters)
                                      .limit(limit).toPandas())
        return pdf

    def refresh(self) -> None:
        """Drop the collected heads; the next pages re-read the snapshot."""
        self._cache.clear()

    def _filter_form(self, page: str, filters: dict[str, list[str]]) -> str:
        """GET form preserving the request's filter state (the widget layer
        of the reference's sidebar; distinct-value suggestion lists are the
        O6 operator collected bounded)."""
        buscar = html.escape((filters.get("buscar") or [""])[0])
        solo = ((filters.get("solo_saldo") or ["0"])[0]
                in ("1", "true", "on"))
        cliente = html.escape((filters.get("cliente") or [""])[0])
        vendedor = html.escape((filters.get("vendedor") or [""])[0])
        options = "".join(
            f'<option value="{html.escape(str(v))}"/>'
            for v in self._distinct("NOMBRE_CLIENTE"))
        moras_sel = set(filters.get("mora") or [])
        mora_opts = "".join(
            f'<option value="{html.escape(str(v))}" '
            f'{"selected" if str(v) in moras_sel else ""}>'
            f"{html.escape(str(v))}</option>"
            for v in self._distinct("CATEGORIA_MORA", limit=20))
        mora_sel = (f'<select name="mora" multiple size="1">{mora_opts}'
                    "</select>") if mora_opts else ""
        return (
            f'<form method="get" action="/{page}" class="filters">'
            f'<input name="buscar" value="{buscar}" placeholder="Buscar cliente…"/>'
            f'<input name="cliente" value="{cliente}" list="dl_clientes" '
            f'placeholder="Cliente exacto"/>'
            f'<datalist id="dl_clientes">{options}</datalist>'
            f'<input name="vendedor" value="{vendedor}" placeholder="Vendedor"/>'
            f"{mora_sel}"
            f'<label><input type="checkbox" name="solo_saldo" value="1" '
            f'{"checked" if solo else ""}/> solo con saldo</label>'
            f'<button>Filtrar</button> <a href="/{page}">limpiar</a></form>')

    def _distinct(self, col: str, limit: int = 200) -> list[str]:
        """Alphabetical distinct list for filter widgets (reference
        ``dashboard/data_loader.py:121-146``; SURVEY O6) — engine-side
        distinct + orderBy, bounded collect, cached unfiltered."""
        key = ("_distinct", col)
        vals = self._cache.get(key)
        if vals is None:
            vals = []
            for df in self._views.values():
                if col in df.columns:
                    vals = [r[0] for r in (df.select(col).where(
                        F.col(col).isNotNull()).distinct().orderBy(col)
                        .limit(limit).collect())]
                    break
            self._cache[key] = vals
        return vals  # type: ignore[return-value]

    # -- page renderers -----------------------------------------------------

    def _donut_items(self, view: str, filters: dict[str, list[str]]):
        pdf = self._pdf(view, filters)
        if pdf is None or pdf.empty:
            return []
        lab = "ESTATUS" if "ESTATUS" in pdf.columns else pdf.columns[0]
        val = "SALDO" if "SALDO" in pdf.columns else pdf.columns[-1]
        return [(str(r[lab]), float(r[val] or 0),
                 VERDE if "VIGENTE" in str(r[lab]).upper() else ROJO)
                for _, r in pdf.iterrows()
                if str(r[lab]).strip().upper() != "TOTAL"]

    def _aging_items(self, view: str, filters: dict[str, list[str]]):
        pdf = self._pdf(view, filters)
        if pdf is None or pdf.empty:
            return []
        return [(str(r["RANGO"]), float(r["SALDO_PENDIENTE"] or 0),
                 VERDE if "VIGENTE" in str(r["RANGO"]).upper() else ROJO)
                for _, r in pdf.iterrows()
                if str(r["RANGO"]).strip().upper() != "TOTAL"]

    def page_resumen(self, filters: dict[str, list[str]]) -> str:
        out = ["<h1>Resumen Ejecutivo — Cuentas por Cobrar</h1>"]
        out.append(kpi_cards(self._pdf("kpis_resumen", filters)))
        items = self._donut_items("cartera_vencida_vs_vigente_mxn", filters)
        if items:
            out.append("<h2>Composicion de cartera (MXN)</h2>")
            out.append(svg_donut(items))
        out.append("<h2>Top clientes por saldo</h2>")
        conc = self._pdf("kpis_concentracion_mxn", filters)
        out.append(table_html(conc.head(10) if conc is not None else None, 10))
        return "".join(out)

    def page_cartera(self, filters: dict[str, list[str]]) -> str:
        out = ["<h1>Cartera &amp; Antiguedad</h1>"]
        items = self._aging_items("antiguedad_cartera_mxn", filters)
        if items:
            out.append("<h2>Distribucion por antiguedad (MXN)</h2>")
            out.append(svg_barh(items))
        out.append(table_html(self._pdf("antiguedad_cartera_mxn", filters)))
        d = self._donut_items("cartera_vencida_vs_vigente_mxn", filters)
        if d:
            out.append("<h2>Vencida vs vigente (MXN)</h2>")
            out.append(svg_donut(d))
        out.append(table_html(self._pdf("cartera_vencida_vs_vigente_mxn", filters)))
        return "".join(out)

    def page_clientes(self, filters: dict[str, list[str]]) -> str:
        out = ["<h1>Analisis por Cliente</h1>"]
        out.append("<h2>Antiguedad por cliente (MXN)</h2>")
        out.append(table_html(self._pdf("antiguedad_por_cliente_mxn", filters)))
        out.append("<h2>Morosidad por cliente (MXN)</h2>")
        out.append(table_html(self._pdf("kpis_morosidad_cliente_mxn", filters)))
        return "".join(out)

    def page_kpis(self, filters: dict[str, list[str]]) -> str:
        out = ["<h1>KPIs Estrategicos</h1>"]
        out.append(table_html(self._pdf("kpis_resumen", filters)))
        conc = self._pdf("kpis_concentracion_mxn", filters)
        if conc is not None and not conc.empty:
            top = conc[conc.iloc[:, 0].astype(str).str.upper() != "TOTAL"]
            if "NOMBRE_CLIENTE" in top.columns and "PCT_ACUMULADO" in top.columns:
                top = top.head(10)
                val_col = ("SALDO_PENDIENTE"
                           if "SALDO_PENDIENTE" in top.columns else
                           top.columns[2])
                out.append("<h2>Concentracion (Pareto, top 10)</h2>")
                out.append(svg_pareto(
                    [str(v) for v in top["NOMBRE_CLIENTE"]],
                    [float(v) for v in top[val_col]],
                    [100 * float(v) for v in top["PCT_ACUMULADO"]]))
        out.append("<h2>Limite de credito (MXN)</h2>")
        out.append(table_html(self._pdf("kpis_limite_credito_mxn", filters)))
        return "".join(out)

    def page_auditoria(self, filters: dict[str, list[str]]) -> str:
        out = ["<h1>Auditoria</h1>"]
        out.append("<h2>Calidad de datos</h2>")
        out.append(table_html(self._pdf("calidad_datos", filters)))
        out.append("<h2>Nulos</h2>")
        out.append(table_html(self._pdf("auditoria_nulos", filters)))
        out.append("<h2>Importes atipicos</h2>")
        out.append(table_html(self._pdf("importes_atipicos", filters)))
        return "".join(out)

    def render(self, page: str,
               filters: dict[str, list[str]] | None = None) -> str:
        filters = {k: v for k, v in (filters or {}).items()
                   if k in FILTER_KEYS and any(v)}
        body = {
            "resumen": self.page_resumen,
            "cartera": self.page_cartera,
            "clientes": self.page_clientes,
            "kpis": self.page_kpis,
            "auditoria": self.page_auditoria,
        }[page](filters)
        nav = "".join(
            f'<a href="/{slug}" class="{"active" if slug == page else ""}">'
            f"{title}</a>" for slug, title in PAGES)
        nav += '<a href="/refresh">Refrescar datos</a>'
        form = self._filter_form(page, filters)
        return (f"<!DOCTYPE html><html><head><meta charset='utf-8'>"
                f"<title>Dashboard CxC</title><style>{_CSS}</style></head>"
                f"<body><nav>{nav}</nav><main>{form}{body}</main></body></html>")


def serve_dashboard(views: dict[str, DataFrame], port: int = 0
                    ) -> tuple[ThreadingHTTPServer, int]:
    """Start the dashboard server on ``port`` (0 = ephemeral) in a daemon
    thread; returns (server, bound_port). ``server.shutdown()`` stops it."""
    dash = Dashboard(views)

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            parsed = urllib.parse.urlparse(self.path)
            path = parsed.path.strip("/") or "resumen"
            if path == "refresh":
                dash.refresh()
                self.send_response(303)
                self.send_header("Location", "/resumen")
                self.end_headers()
                return
            if path not in dict(PAGES):
                self.send_response(404)
                self.end_headers()
                return
            filters = urllib.parse.parse_qs(parsed.query)
            payload = dash.render(path, filters).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *args) -> None:  # quiet test output
            pass

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, server.server_address[1]
