"""Tests for the traced pass's span arithmetic.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, Tracer, _union_length  # noqa: E402


def test_union_length_merges_overlaps_and_clips():
    assert _union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert _union_length([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    tr = Tracer()
    tr.spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("prog", 1.0, 9.0, 0, 0),
        Span("spark.collect", 2.0, 5.0, 1, 0),
        Span("spark.write", 4.0, 6.0, 1, 0),   # overlaps the collect
        Span("spark.count", 3.0, 4.0, 2, 0),   # nested in the collect
    ]
    selfs = tr.self_times()
    assert selfs[1] == 8.0 - 4.0
    assert selfs[2] == 3.0 - 1.0
    assert tr.per_op(("prog",)) == {0: 8.0}
    assert tr.per_op(("prog",), self_time=True) == {0: 4.0}
    assert tr.per_op(("spark.",)) == {0: 4.0}


def test_handler_thread_spans_attach_to_the_operation():
    tr = Tracer()
    tr.op = 3
    tr.op_root = tr.begin("op")

    def handler():
        with tr.span("render"):
            pass

    t = threading.Thread(target=handler)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    tr.end(tr.op_root)
    render = next(s for s in tr.spans if s.name == "render")
    assert render.parent == tr.op_root and render.op == 3


def test_wrap_records_a_span_and_returns_the_result():
    class Owner:
        def f(self, x):
            return x + 1

    tr = Tracer()
    tr.wrap(Owner, "f", "owner.f")
    assert Owner().f(1) == 2
    assert [s.name for s in tr.spans] == ["owner.f"]


def test_within_keeps_spans_nested_in_the_named_span():
    tr = Tracer()
    tr.spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("report.export_views", 1.0, 5.0, 0, 0),
        Span("xlsx.write", 1.5, 2.0, 1, 0),
        Span("spark.toPandas", 2.0, 3.0, 2, 0),  # nested two levels down
        Span("pdf.export", 5.0, 9.0, 0, 0),
        Span("spark.toPandas", 6.0, 8.0, 4, 0),
        Span("spark.toPandas", 0.5, 0.7, None, None),  # setup, no op
    ]
    assert tr.per_op(("spark.toPandas",), "report.export_views") == {0: 1.0}
    assert tr.per_op(("spark.toPandas",), "pdf.export") == {0: 2.0}
    assert abs(tr.per_op(("spark.toPandas",))[None] - 0.2) < 1e-9
