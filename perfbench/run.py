#!/usr/bin/env python3
"""Repository benchmark: one named workload, one seed, one fresh process.

    python3 perfbench/run.py --workload cxc_report --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. The program reads the fixed tables under
``perfbench/data/``; the seed makes the traffic (the dashboard session and
the dedup increments). Each run starts Spark as ``local[N]``, sets up and
warms the workload, then lets one closed-loop client issue a fixed number
of timed operations, adding untimed ones until ``--seconds`` have passed.
Outputs go to a directory of the run's own under ``.perfbench_runs/``,
removed at the end. Every operation's output is checked. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and the metrics (end-to-end ones with ``--trace 0``, per-layer ones with
``--trace 1``). See README.md in this directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import urllib.error  # noqa: E402
import urllib.parse  # noqa: E402
import urllib.request  # noqa: E402
import zipfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from html.parser import HTMLParser  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(ROOT))

import workloads as wl  # noqa: E402
from spans import SparkCounter, Tracer, wrap_spark_actions  # noqa: E402

MAX_CPUS = 4
DRIVER_MEM = "3g"
# Copies of the repository's fixed testdata: the CxC source tables of
# sf0.001, the sf0.01 corpus (500 documents, 500 embeddings) that is
# curated, and the sf0.1 documents (5 000) the dedup state is built from.
CXC_DATA = BENCH_DIR / "data" / "cxc_sf0.001"
CURATE_DATA = BENCH_DIR / "data" / "corpus_sf0.01"
CURATE_DOCS = 500
STATE_DATA = BENCH_DIR / "data" / "corpus_sf0.1"
# The report each cxc_report operation exports: at least one sheet in each
# of the three workbooks (the largest, registros_totales_cxc, is the
# protected one), and PDF pages of the KPI, donut, Pareto and table kinds.
REPORT_VIEWS = (
    "sin_vendedor", "registros_totales_cxc",
    "kpis_resumen", "cartera_vencida_vs_vigente_usd",
    "kpis_concentracion_usd",
)
CXC_ROUNDS = 1        # timed rounds: one report export, then five pages
CXC_MAX_ROUNDS = 8    # session rounds: warm-up, timed and untimed ones
INCREMENTS = 2        # timed increments
MAX_INCREMENTS = 8    # untimed ones included
WARMUP_BATCH = 50     # documents in the warm-up increment
MIN_NEW_KEPT = 0.95   # share of a batch's new documents that must be kept
CALIBRATION_ROWS = 150_000_000


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def dir_stats(path) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Run:
    """State shared by one run's setup, operations and metrics."""

    def __init__(self, args, run_dir: Path, cpus: int) -> None:
        self.args = args
        self.seed = args.seed
        self.run_dir = run_dir
        self.cpus = cpus
        self.tracer = Tracer() if args.trace else None
        self.counter: SparkCounter | None = None
        self.spark = None
        self.server = None  # the dashboard's HTTP server, when one runs
        self.ops: list[dict] = []  # label, timed, latency, info, counts
        self.attempted = 0
        self.failed = 0
        self.setup_problems: list[str] = []
        self.setup_info: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.mem: dict[str, float] = {}

    # -- tracing helpers ------------------------------------------------------

    def trace(self, owner, attr: str, name: str) -> None:
        """In the traced pass, a span and a nested job group around
        ``owner.attr``."""
        if self.tracer:
            self.tracer.wrap(owner, attr, name, self.counter)

    def timed_setup(self, name: str, fn):
        """Run one setup phase under a span and its own job group."""
        t = time.perf_counter()
        if self.counter:
            self.counter.set_group(name)
        if self.tracer:
            with self.tracer.span(name):
                out = fn()
        else:
            out = fn()
        self.layer[name] = time.perf_counter() - t
        if self.counter:
            self.counter.clear_group()
        return out

    def run_op(self, op, check, label: str, timed: bool = True) -> None:
        """One operation of kind ``label``. ``op()`` is timed; ``check``
        runs on its result after the clock stops and returns the problems
        it found and a dict of figures about the output. Untimed operations
        are checked too, but their latency enters no metric."""
        i = len(self.ops)
        group = f"op-{i}"
        root = None
        if self.tracer:
            self.tracer.op = i
            root = self.tracer.begin("op")
            self.tracer.op_root = root
            self.counter.set_group(group)
        t = time.perf_counter()
        try:
            out, problems = op(), None
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            out, problems = None, [f"{type(exc).__name__}: {exc}"]
        dt = time.perf_counter() - t
        counts = None
        if self.tracer:
            self.tracer.end(root)
            self.tracer.op = self.tracer.op_root = None
            self.counter.clear_group()
            counts = self.counter.count(group)
        info: dict = {}
        if problems is None:
            try:
                problems, info = check(out)
            except Exception as exc:  # noqa: BLE001 - a failed check is counted
                problems = [f"check: {type(exc).__name__}: {exc}"]
        self.attempted += 1
        self.ops.append({"label": label, "timed": timed, "latency": dt,
                         "info": info, "counts": counts})
        if problems:
            self.failed += 1
            print(f"# op {i} ({label}) failed: {'; '.join(problems[:3])}",
                  file=sys.stderr)

    def warm(self, op, check) -> None:
        """An untimed warm-up operation whose output is checked too."""
        self.setup_problems.extend(check(op())[0])

    # -- metrics ----------------------------------------------------------------

    def timed_ops(self, prefix: str = "") -> list[int]:
        return [i for i, o in enumerate(self.ops)
                if o["timed"] and o["label"].startswith(prefix)]

    def op_p50(self) -> float:
        """Median latency of each kind of timed operation, combined by
        geometric mean within a group (``page:<name>`` kinds form the
        group ``page``) and then across groups, so each group weighs the
        same and no figure depends on how many of a kind a run issued."""
        kinds: dict[str, list[float]] = {}
        for i in self.timed_ops():
            o = self.ops[i]
            kinds.setdefault(o["label"], []).append(o["latency"])
        groups: dict[str, list[float]] = {}
        for label, xs in kinds.items():
            groups.setdefault(label.split(":")[0], []).append(median(xs))
        return geomean([geomean(v) for v in groups.values()])

    def memory(self) -> dict[str, float]:
        """Memory at the end of the run, in MB: the JVM's heap still live
        after a full GC (cached views, broadcasts, retained state), its
        peak resident set, and the Python process's peak resident set."""
        jvm = self.spark.sparkContext._jvm
        # The first GC queues unreachable broadcasts and checkpoints for
        # Spark's ContextCleaner; the second frees what it then released.
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        heap = (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
                .getHeapMemoryUsage().getUsed())
        hwm_kb = 0
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return {"jvm_live_heap": heap / 2**20, "jvm_peak_rss": hwm_kb / 1024,
                "python_peak_rss": py_kb / 1024}

    def end_to_end(self, setup_s: float) -> dict:
        mem = self.mem = self.memory()
        return {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": self.op_p50(), "unit": "s"},
            "memory_mb": {"value": mem["jvm_live_heap"] + mem["python_peak_rss"],
                          "unit": "MB"},
        }

    def per_layer(self, setup_s: float) -> dict:
        tr = self.tracer
        # the Spark counters follow the workload's repeated batch
        # operation: a report export, or a dedup increment
        main = self.timed_ops("report") or self.timed_ops("increment")
        reports = self.timed_ops("report")
        pages = self.timed_ops("page:")
        incs = self.timed_ops("increment")

        def per(ops, names, within=None, self_time=False):
            t = tr.per_op(names, within, self_time)
            return median([t.get(i, 0.0) for i in ops]) if ops else 0.0

        def setup(names):
            return tr.per_op(names).get(None, 0.0)

        def info(ops, key):
            return median([self.ops[i]["info"].get(key, 0) for i in ops])

        def counts(ops, key, group=""):
            if not group:
                return median([self.ops[i]["counts"][key] for i in ops])
            return median([self.counter.count(f"op-{i}/{group}")[key]
                           for i in ops])

        render = tr.per_op(("dashboard.render",))
        mem = self.mem = self.memory()
        calib = self.calibrate()
        failed = (sum(o["counts"]["failed"] for o in self.ops)
                  + sum(self.counter.count(g)["failed"]
                        for g in ("setup.build", "setup.warmup")))
        m = {
            "spark.jobs_per_op": (counts(main, "jobs"), "count"),
            "spark.stages_per_op": (counts(main, "stages"), "count"),
            "spark.tasks_per_op": (counts(main, "tasks"), "count"),
            "spark.failed_tasks": (failed, "count"),
            "session.start_s": (self.layer["session.start"], "s"),
            "setup.build_s": (self.layer["setup.build"], "s"),
            "setup.build_jobs": (self.counter.count("setup.build")["jobs"],
                                 "count"),
            "setup.warmup_s": (self.layer["setup.warmup"], "s"),
            "pipeline.run_pipeline_s": (setup(("pipeline.run_pipeline",)), "s"),
            "pipeline.run_pipeline_jobs": (self.counter.count(
                "setup.build/pipeline.run_pipeline")["jobs"], "count"),
            "report.export_views_s": (per(reports, ("report.export_views",)),
                                      "s"),
            "report.to_pandas_s": (per(reports, ("spark.toPandas",),
                                       "report.export_views"), "s"),
            "report.jobs": (counts(reports, "jobs", "report.export_views"),
                            "count"),
            "xlsx.write_s": (per(reports, ("xlsx.write",)), "s"),
            "xlsx.rows": (info(reports, "xlsx_rows"), "count"),
            "xlsx.bytes": (info(reports, "xlsx_bytes"), "bytes"),
            "pdf.export_s": (per(reports, ("pdf.export",)), "s"),
            "pdf.draw_self_s": (per(reports, ("pdf.export",),
                                    self_time=True), "s"),
            "pdf.bytes": (info(reports, "pdf_bytes"), "bytes"),
            "dashboard.render_s": (per(pages, ("dashboard.render",)), "s"),
            "dashboard.render_self_s": (per(pages, ("dashboard.render",),
                                            self_time=True), "s"),
            "dashboard.http_s": (median([self.ops[i]["latency"]
                                         - render.get(i, 0.0)
                                         for i in pages]), "s"),
            "dashboard.to_pandas_s": (per(pages, ("spark.toPandas",),
                                          "dashboard.render"), "s"),
            "dashboard.jobs_per_page": (counts(pages, "jobs"), "count"),
            "dashboard.page_bytes": (info(pages, "bytes"), "bytes"),
            "corpus.curate_s": (setup(("corpus.curate",)), "s"),
            "corpus.export_s": (setup(("corpus.export",)), "s"),
            "expectations.gate_s": (setup(("expectations.gate",)), "s"),
            "ann_index.build_s": (setup(("ann_index.build",)), "s"),
            "corpus.kept_frac": (self.setup_info.get("kept_frac", 0.0),
                                 "ratio"),
            "incremental.dedup_s": (per(incs, ("incremental.dedup",)), "s"),
            "incremental.state_files": (info(incs, "state_files"), "count"),
            "incremental.state_bytes": (info(incs, "state_bytes"), "bytes"),
            "incremental.dropped_frac": (info(incs, "dropped_frac"), "ratio"),
            "host.calibration_s": (calib, "s"),
            "trace.setup_s": (setup_s, "s"),
            "trace.op_p50_s": (self.op_p50(), "s"),
            "mem.jvm_live_heap_mb": (mem["jvm_live_heap"], "MB"),
            "mem.jvm_peak_rss_mb": (mem["jvm_peak_rss"], "MB"),
            "mem.python_peak_rss_mb": (mem["python_peak_rss"], "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def calibrate(self) -> float:
        """Pinned host-speed anchor: range -> xxhash64 -> groupBy on
        ``self.cpus`` partitions (1-2 s at 4 cores)."""
        from pyspark.sql import functions as F

        df = (self.spark.range(0, CALIBRATION_ROWS, 1, self.cpus)
              .select((F.xxhash64("id") % 1024).alias("k"))
              .groupBy("k").count())
        t = time.perf_counter()
        rows = df.collect()
        dt = time.perf_counter() - t
        if sum(r["count"] for r in rows) != CALIBRATION_ROWS:
            self.setup_problems.append("calibration job lost rows")
        return dt


# ---------------------------------------------------------------------------
# cxc_report: the paper's product, report exports and dashboard pages
# ---------------------------------------------------------------------------

class PageParser(HTMLParser):
    """Collects what the client checks and what the filter widgets offer."""

    def __init__(self) -> None:
        super().__init__()
        self.h1 = ""
        self.title = ""
        self.tables: list[dict] = []
        self.clientes: list[str] = []
        self.moras: list[str] = []
        self._in: str | None = None
        self._select: str | None = None
        self._datalist: str | None = None
        self._row: dict | None = None
        self._cell: list[str] | None = None

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "h1" or (tag == "title" and not self.title):
            self._in = tag  # the first <title> is the document's
        elif tag == "table":
            self.tables.append({"headers": [], "rows": []})
        elif tag == "tr" and self.tables:
            self._row = {"total": a.get("class") == "total", "cells": []}
        elif tag in ("th", "td") and self._row is not None:
            self._cell = []
        elif tag == "datalist":
            self._datalist = a.get("id")
        elif tag == "select":
            self._select = a.get("name")
        elif tag == "option":
            if self._datalist == "dl_clientes":
                self.clientes.append(a.get("value", ""))
            elif self._select == "mora":
                self.moras.append(a.get("value", ""))

    def handle_endtag(self, tag):
        if tag == self._in:
            self._in = None
        elif tag in ("th", "td") and self._cell is not None:
            text = "".join(self._cell)
            if tag == "th":
                self.tables[-1]["headers"].append(text)
            else:
                self._row["cells"].append(text)
            self._cell = None
        elif tag == "tr" and self._row is not None:
            if self._row["cells"]:
                self.tables[-1]["rows"].append(self._row)
            self._row = None
        elif tag == "datalist":
            self._datalist = None
        elif tag == "select":
            self._select = None

    def handle_data(self, data):
        if self._in == "h1":
            self.h1 += data
        elif self._in == "title":
            self.title += data
        if self._cell is not None:
            self._cell.append(data)


def fetch(port: int, page: str, query: dict | None = None
          ) -> tuple[int, bytes]:
    url = f"http://127.0.0.1:{port}/{page}"
    if query:
        url += "?" + urllib.parse.urlencode(query)
    try:
        with urllib.request.urlopen(url, timeout=120) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as err:
        return err.code, b""


def check_page(status: int, body: bytes, title: str,
               kind: str | None, value: str | None) -> tuple[list[str], PageParser]:
    problems = []
    p = PageParser()
    if status != 200:
        return [f"HTTP {status}"], p
    p.feed(body.decode("utf-8"))
    if p.title != "Dashboard CxC" or not p.h1.startswith(title):
        problems.append(f"page title {p.title!r}/{p.h1!r}, expected {title!r}")
    if kind == "cliente":
        for t in p.tables:
            if "NOMBRE_CLIENTE" not in t["headers"]:
                continue
            col = t["headers"].index("NOMBRE_CLIENTE")
            for row in t["rows"]:
                if not row["total"] and row["cells"][col] != value:
                    problems.append(f"row for {row['cells'][col]!r} "
                                    f"under cliente={value!r}")
                    break
    return problems, p


def read_xlsx_rows(path: str) -> dict[str, int]:
    """Sheet name -> data rows (all rows but the header) of a workbook."""
    with zipfile.ZipFile(path) as z:
        book = z.read("xl/workbook.xml").decode()
        names = re.findall(r'<sheet name="([^"]*)"', book)
        return {name: z.read(f"xl/worksheets/sheet{i}.xml").decode()
                .count("<row ") - 1
                for i, name in enumerate(names, start=1)}


def cxc_report(run: Run) -> float:
    from prac_data_pipelines_spark import pipeline
    from prac_data_pipelines_spark.sinks import dashboard, pdf, report

    titles = dict(dashboard.PAGES)
    xlsx_rows: list[int] = []

    if run.tracer:
        wrap_spark_actions(run.tracer)
        run.trace(pipeline, "run_pipeline", "pipeline.run_pipeline")
        run.trace(report, "export_views", "report.export_views")
        run.trace(pdf, "export_pdf_report", "pdf.export")
        run.trace(report, "write_styled_workbook", "xlsx.write")
        render = dashboard.Dashboard.render

        def traced_render(self, page, filters=None):
            # request handler threads launch the page's jobs: tag them
            # with the client's current operation
            op = run.tracer.op
            run.counter.set_group("setup.warmup" if op is None else f"op-{op}")
            try:
                with run.tracer.span("dashboard.render"):
                    return render(self, page, filters)
            finally:
                run.counter.clear_group()

        dashboard.Dashboard.render = traced_render
        write = report.write_styled_workbook

        def counted_write(path, sheets, *args, **kwargs):
            sheets = list(sheets)
            xlsx_rows.append(sum(len(df) for _, df in sheets))
            return write(path, sheets, *args, **kwargs)

        report.write_styled_workbook = counted_write

    def build():
        views = pipeline.run_pipeline(run.spark, str(CXC_DATA))
        server, port = dashboard.serve_dashboard(views)
        run.server = server
        chosen = {n: views[n] for n in REPORT_VIEWS}
        # the row count each exported sheet must have
        return chosen, {n: df.count() for n, df in chosen.items()}, port

    views, rows, port = run.timed_setup("setup.build", build)

    expected = {}  # workbook -> {sheet: rows}; empty views get no sheet
    for fname, order in report.WORKBOOKS:
        expected[fname] = {n[:31]: rows[n] for n in order
                           if n in views and rows[n] > 0}
        if not expected[fname]:
            run.setup_problems.append(f"no exported view has rows in {fname}")

    def report_op(i: int):
        out = run.run_dir / f"report-{i}"

        def op():
            del xlsx_rows[:]
            report.export_views(views, str(out))
            pdf.export_pdf_report(views, str(out / "reporte.pdf"))
            return out

        def check(out):
            problems = []
            for fname, sheets in expected.items():
                path = out / fname
                if not path.is_file():
                    problems.append(f"{fname} missing")
                elif (got := read_xlsx_rows(str(path))) != sheets:
                    problems.append(f"{fname} rows {got}, expected {sheets}")
            extra = sorted(set(os.listdir(out)) - set(expected)
                           - {"reporte.pdf"})
            if extra:
                problems.append(f"unexpected outputs {extra}")
            body = (out / "reporte.pdf").read_bytes()
            n_pages = body.count(b"/Type /Page /Parent")
            if not body.startswith(b"%PDF") or n_pages != len(views):
                problems.append(f"PDF has {n_pages} pages for "
                                f"{len(views)} views")
            info = {"xlsx_rows": sum(xlsx_rows),
                    "xlsx_bytes": dir_stats(out)[1] - len(body),
                    "pdf_bytes": len(body)}
            shutil.rmtree(out)
            return problems, info

        return op, check

    def page_op(page: str, kind: str | None = None, value: str | None = None):
        def op():
            return fetch(port, page, {kind: value} if kind else None)

        def check(response):
            status, body = response
            return (check_page(status, body, titles[page], kind, value)[0],
                    {"bytes": len(body)})
        return op, check

    per_round = len(wl.PAGES)

    def warmup():
        # the first page shows the filter values the session draws from;
        # then one export and the session's first round of pages
        status, body = fetch(port, wl.PAGES[0])
        problems, parsed = check_page(status, body, titles[wl.PAGES[0]],
                                      None, None)
        run.setup_problems.extend(problems)
        if not parsed.clientes:
            raise RuntimeError("dashboard offered no client filter values")
        session = wl.dashboard_session(run.seed, parsed.clientes,
                                       parsed.moras, CXC_MAX_ROUNDS)
        # the export and the first round of pages warm up side by side:
        # the report's jobs leave the cores idle between them
        with ThreadPoolExecutor(1) as pool:
            pages = pool.submit(lambda: [run.warm(*page_op(*visit))
                                         for visit in session[:per_round]])
            run.warm(*report_op(-1))
            pages.result()
        return session[per_round:]

    session = run.timed_setup("setup.warmup", warmup)
    ready = time.perf_counter()

    t_end = ready + run.args.seconds
    for r in range(CXC_MAX_ROUNDS - 1):
        timed = r < CXC_ROUNDS
        if not timed and time.perf_counter() >= t_end:
            break
        run.run_op(*report_op(r), "report", timed)
        for page, kind, value in session[r * per_round:(r + 1) * per_round]:
            run.run_op(*page_op(page, kind, value), f"page:{page}", timed)
    return ready


# ---------------------------------------------------------------------------
# corpus_increment: curation of the corpus, then daily dedup increments
# ---------------------------------------------------------------------------

def corpus_increment(run: Run) -> float:
    from prac_data_pipelines_spark import corpus_pipeline, incremental
    from prac_data_pipelines_spark.operators import ann_index, expectations

    spark = run.spark
    data = str(CURATE_DATA)
    state_base = str(run.run_dir / "state_base")
    state_dir = str(run.run_dir / "state")

    if run.tracer:
        wrap_spark_actions(run.tracer)
        run.trace(corpus_pipeline, "curate", "corpus.curate")
        run.trace(corpus_pipeline, "export", "corpus.export")
        # export imports these two when it runs: wrapping the module
        # attribute reaches it
        run.trace(expectations, "gate", "expectations.gate")
        run.trace(ann_index, "build_ivf_index", "ann_index.build")
        run.trace(incremental, "init_dedup_state", "incremental.init")
        run.trace(incremental, "incremental_dedup", "incremental.dedup")

    def build_state():
        if run.counter:
            run.counter.set_group("setup.build")  # job groups are per thread
        docs = spark.read.parquet(f"{STATE_DATA}/documents.parquet")
        incremental.init_dedup_state(docs.select("doc_id", "text"),
                                     state_base)
        return [(r["doc_id"], r["text"]) for r in
                docs.select("doc_id", "text").orderBy("doc_id").collect()]

    def curate_corpus():
        out = str(run.run_dir / "curated")
        views = corpus_pipeline.curate(spark, data)
        corpus_pipeline.export(spark, views, out, data)  # raises if gated
        kept = {r[0] for r in spark.read.parquet(f"{out}/curado")
                .select("doc_id").collect()}
        dropped = {r[0] for r in spark.read.parquet(f"{out}/descartados")
                   .select("doc_id").collect()}
        if kept & dropped or len(kept) + len(dropped) != CURATE_DOCS:
            run.setup_problems.append(
                f"curation kept {len(kept)} + dropped {len(dropped)} "
                f"!= {CURATE_DOCS} documents")
        if not os.path.isdir(f"{out}/ann_index/lists"):
            run.setup_problems.append("curation wrote no ANN index")
        run.setup_info["kept_frac"] = len(kept) / CURATE_DOCS
        shutil.rmtree(out)

    def build():
        # the dedup state every increment starts from is built beside the
        # one-shot curation of the corpus, whose many small jobs leave
        # cores idle
        with ThreadPoolExecutor(1) as pool:
            state = pool.submit(build_state)
            curate_corpus()
            return state.result()

    state = run.timed_setup("setup.build", build)
    base_files, base_bytes = dir_stats(state_base)
    batches = wl.increment_batches(run.seed, state, 1 + MAX_INCREMENTS)

    def increment(batch):
        """(op, check) for one batch against a fresh copy of the state;
        the batch frame and the copy are made untimed."""
        df = spark.createDataFrame([(d, t) for d, t, _ in batch],
                                   "doc_id long, text string")
        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.copytree(state_base, state_dir)

        def op():
            return incremental.incremental_dedup(spark, df, state_dir).collect()

        def check(rows):
            problems = []
            got = sorted(r["doc_id"] for r in rows)
            if got != sorted(d for d, _, _ in batch):
                problems.append(f"{len(got)} verdicts for {len(batch)} docs")
            keep = {r["doc_id"]: r["mantener"] for r in rows}
            clones = [d for d, _, k in batch if k == "clone"]
            new = [d for d, _, k in batch if k == "new"]
            if any(keep.get(d) for d in clones):
                problems.append(f"{sum(bool(keep.get(d)) for d in clones)} "
                                "injected clones kept")
            new_kept = sum(bool(keep.get(d)) for d in new)
            if new_kept < MIN_NEW_KEPT * len(new):
                problems.append(f"only {new_kept} of {len(new)} new docs kept")
            files, size = dir_stats(state_dir)
            if files <= base_files or size <= base_bytes:
                problems.append("kept docs were not appended to the state")
            return problems, {
                "state_files": files, "state_bytes": size,
                "dropped_frac": sum(not v for v in keep.values()) / len(batch)}

        return op, check

    run.timed_setup("setup.warmup",
                    lambda: run.warm(*increment(batches[0][:WARMUP_BATCH])))
    ready = time.perf_counter()

    t_end = ready + run.args.seconds
    for i, batch in enumerate(batches[1:]):
        timed = i < INCREMENTS
        if not timed and time.perf_counter() >= t_end:
            break
        run.run_op(*increment(batch), "increment", timed)
    return ready


WORKLOADS = {
    "cxc_report": cxc_report,
    "corpus_increment": corpus_increment,
}


# ---------------------------------------------------------------------------


def start_spark(run: Run) -> None:
    from prac_data_pipelines_spark.session import get_spark

    t = time.perf_counter()
    run.spark = get_spark(f"perfbench-{run.args.workload}")
    run.spark.sparkContext.setLogLevel("ERROR")
    run.layer["session.start"] = time.perf_counter() - t
    if run.tracer:
        run.counter = SparkCounter(run.spark.sparkContext)


def stop_spark(run: Run) -> None:
    if run.server is not None:
        run.server.shutdown()
        run.server.server_close()
    if run.spark is None:
        return
    sc = run.spark.sparkContext
    proc = sc._gateway.proc
    run.spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401
        import prac_data_pipelines_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    run_dir = (ROOT / ".perfbench_runs"
               / f"{args.workload}-s{args.seed}-p{os.getpid()}")
    run_dir.mkdir(parents=True)
    tmp = run_dir / "tmp"
    tmp.mkdir()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    # the program's own defaults for what the session reads from the
    # environment, whatever the calling shell sets
    for var in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    cwd = os.getcwd()
    os.chdir(run_dir)  # stray engine files (warehouse, logs) land here
    run = Run(args, run_dir, cpus)
    try:
        start_spark(run)
        ready = WORKLOADS[args.workload](run)
        setup_s = ready - T_START
        if args.trace:
            metrics = run.per_layer(setup_s)
        else:
            metrics = run.end_to_end(setup_s)
    finally:
        stop_spark(run)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass

    for p in run.setup_problems:
        print(f"# setup check failed: {p}", file=sys.stderr)
    print("# setup phases (s): " + " ".join(
        f"{k}={v:.2f}" for k, v in run.layer.items()), file=sys.stderr)
    print(f"# memory (MB): {run.mem}", file=sys.stderr)
    for o in run.ops:
        print(f"# {o['label']}{'' if o['timed'] else ' (untimed)'} "
              f"{o['latency']:.3f}s"
              + (" jobs/stages/tasks {jobs}/{stages}/{tasks}".format(
                  **o["counts"]) if o["counts"] else ""), file=sys.stderr)
    print(f"# workload={args.workload} seed={args.seed} cpus={cpus} "
          f"master=local[{cpus}] ops={run.attempted} trace={args.trace}")
    print(json.dumps({
        "correct": run.failed == 0 and not run.setup_problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
