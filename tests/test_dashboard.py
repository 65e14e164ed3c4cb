"""Interactive dashboard (K4): the five reference pages served over HTTP
from the live view dictionary, fetched like a browser would."""

from __future__ import annotations

import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from html.parser import HTMLParser

import pytest


@pytest.fixture(scope="module")
def dash_server(views):
    from prac_data_pipelines_spark.sinks.dashboard import serve_dashboard

    server, port = serve_dashboard(views)
    yield f"http://127.0.0.1:{port}"
    server.shutdown()


def _get(url: str) -> tuple[int, str]:
    with urllib.request.urlopen(url, timeout=120) as resp:
        return resp.status, resp.read().decode()


def test_all_five_pages_render(dash_server):
    from prac_data_pipelines_spark.sinks.dashboard import PAGES

    for slug, title in PAGES:
        status, body = _get(f"{dash_server}/{slug}")
        assert status == 200
        assert title.replace("&", "&amp;") in body, slug
        assert "<nav>" in body and "<table>" in body, slug


def test_root_serves_resumen_with_cards_and_donut(dash_server):
    status, body = _get(dash_server)
    assert status == 200
    assert "Resumen Ejecutivo" in body
    assert 'class="card"' in body
    assert "<svg" in body and "<path" in body  # donut chart


def test_cartera_has_aging_bars(dash_server):
    _, body = _get(f"{dash_server}/cartera")
    assert "<rect" in body  # horizontal bars
    assert "VIGENTE" in body


def test_kpis_has_pareto(dash_server):
    _, body = _get(f"{dash_server}/kpis")
    assert "<polyline" in body  # cumulative-% line
    assert "stroke-dasharray" in body  # 80% guide


def test_refresh_redirects_and_recollects(dash_server):
    status, body = _get(f"{dash_server}/refresh")  # urllib follows the 303
    assert status == 200 and "Resumen Ejecutivo" in body


def test_unknown_page_404(dash_server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{dash_server}/nope")
    assert e.value.code == 404


# -- interactive filters (K4 widget layer) ---------------------------------

@pytest.fixture(scope="module")
def views(spark, sf_dir):
    from prac_data_pipelines_spark.pipeline import run_pipeline

    return run_pipeline(spark, sf_dir)


def test_engine_side_filters_subset(views):
    from prac_data_pipelines_spark.sinks.dashboard import apply_view_filters

    df = views["kpis_morosidad_cliente_mxn"]
    names = [r[0] for r in df.select("NOMBRE_CLIENTE").where(
        "NOMBRE_CLIENTE <> 'TOTAL'").distinct().limit(3).collect()]
    assert len(names) >= 2

    picked = apply_view_filters(df, {"cliente": names[:2]})
    got = {r["NOMBRE_CLIENTE"] for r in picked.collect()}
    assert got == set(names[:2])

    sub = names[0][2:8].lower()
    fuzzy = apply_view_filters(df, {"buscar": [sub]})
    got = [r["NOMBRE_CLIENTE"] for r in fuzzy.collect()]
    assert names[0] in got
    assert all(sub in n.lower() for n in got)

    saldo_col = next(c for c in ("SALDO_TOTAL", "SALDO_PENDIENTE")
                     if c in df.columns)
    conso = apply_view_filters(df, {"solo_saldo": ["1"]})
    assert conso.filter(f"{saldo_col} <= 0").count() == 0


def test_filters_skip_missing_columns(views):
    from prac_data_pipelines_spark.sinks.dashboard import apply_view_filters

    df = views["calidad_datos"]  # no NOMBRE_CLIENTE/VENDEDOR columns
    out = apply_view_filters(df, {"cliente": ["X"], "vendedor": ["Y"],
                                  "buscar": ["z"], "solo_saldo": ["1"]})
    assert out.count() == df.count()


def test_http_query_param_filters_reach_engine(dash_server, views):
    # a real client: filtered page keeps it in the tables
    name = views["kpis_morosidad_cliente_mxn"].select("NOMBRE_CLIENTE").where(
        "NOMBRE_CLIENTE <> 'TOTAL'").first()[0]
    q = urllib.parse.quote(name)
    _, body = _get(f"{dash_server}/clientes?cliente={q}")
    main = body.split("</form>", 1)[1]  # exclude the widget datalist
    assert name in main

    # an impossible substring: every client table collapses to "sin datos"
    _, body = _get(f"{dash_server}/clientes?buscar=zzz_no_such_client")
    main = body.split("</form>", 1)[1]
    assert "sin datos" in main
    assert name not in main


def test_filter_form_preserves_state(dash_server):
    _, body = _get(f"{dash_server}/clientes?buscar=abc&solo_saldo=1")
    assert 'value="abc"' in body
    assert "checked" in body
    assert "dl_clientes" in body  # distinct-value suggestions (O6 widget)


class _Tables(HTMLParser):
    """(headers, rows) of every <table> after the filter form; rows are
    (is_total, cells)."""

    def __init__(self) -> None:
        super().__init__()
        self.tables: list[tuple[list[str], list]] = []
        self._row: list[str] | None = None
        self._total = False
        self._cell: list[str] | None = None

    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self.tables.append(([], []))
        elif tag == "tr":
            self._row, self._total = [], dict(attrs).get("class") == "total"
        elif tag in ("th", "td"):
            self._cell = []

    def handle_endtag(self, tag):
        if tag in ("th", "td") and self._cell is not None:
            target = self.tables[-1][0] if tag == "th" else self._row
            target.append("".join(self._cell))
            self._cell = None
        elif tag == "tr" and self._row:
            self.tables[-1][1].append((self._total, self._row))
            self._row = None

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)


def _client_cells(body: str) -> list[str]:
    """NOMBRE_CLIENTE of every non-TOTAL table row of a page."""
    parser = _Tables()
    parser.feed(body.split("</form>", 1)[1])
    return [cells[headers.index("NOMBRE_CLIENTE")]
            for headers, rows in parser.tables if "NOMBRE_CLIENTE" in headers
            for total, cells in rows if not total]


def test_concurrent_filtered_requests_keep_their_filters(dash_server, views):
    # ThreadingHTTPServer renders requests side by side: each page must
    # render with its own request's filters
    names = [r[0] for r in views["kpis_morosidad_cliente_mxn"]
             .select("NOMBRE_CLIENTE").distinct().orderBy("NOMBRE_CLIENTE")
             .limit(8).collect()]
    assert len(names) == 8

    def fetch(name):
        q = urllib.parse.urlencode({"cliente": name})
        return name, _get(f"{dash_server}/clientes?{q}")[1]

    with ThreadPoolExecutor(len(names)) as pool:
        pages = list(pool.map(fetch, names))
    for name, body in pages:
        cells = _client_cells(body)
        assert name in cells, name
        assert set(cells) == {name}, (name, set(cells))


def test_cache_keyed_on_applicable_filters(views, monkeypatch):
    from prac_data_pipelines_spark.sinks.dashboard import Dashboard

    collected: list[list[str]] = []
    frame = type(views["calidad_datos"])
    to_pandas = frame.toPandas

    def counting(self):
        collected.append(self.columns)
        return to_pandas(self)

    monkeypatch.setattr(frame, "toPandas", counting)
    names = [r[0] for r in views["kpis_morosidad_cliente_mxn"]
             .select("NOMBRE_CLIENTE").limit(2).collect()]
    dash = Dashboard(views)
    for name in names:
        dash.render("auditoria", {"cliente": [name]})
    # calidad_datos has no client column: one collect serves both filters
    assert collected.count(views["calidad_datos"].columns) == 1
