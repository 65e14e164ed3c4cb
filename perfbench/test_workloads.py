"""Tests for the benchmark's seeded workload generator.

    python3 -m pytest perfbench/test_workloads.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads as wl  # noqa: E402

CLIENTES = [f"CUSTOMER#{k:09d}" for k in range(200)]
MORAS = ["1-15 DIAS", "16-30 DIAS", "31-60 DIAS", "VIGENTE"]


DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "corpus_sf0.1", "documents.parquet")


def _state() -> list[tuple[int, str]]:
    t = pq.read_table(DOCS, columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def test_same_seed_same_session():
    a = wl.dashboard_session(5, CLIENTES, MORAS, 20)
    b = wl.dashboard_session(5, CLIENTES, MORAS, 20)
    assert a == b


def test_different_seed_different_session():
    a = wl.dashboard_session(5, CLIENTES, MORAS, 20)
    b = wl.dashboard_session(6, CLIENTES, MORAS, 20)
    assert a != b


def test_no_page_filter_pair_repeats():
    for seed in range(10):
        visits = wl.dashboard_session(seed, CLIENTES, MORAS, 40)
        assert len(set(visits)) == len(visits)


def test_session_rounds_cover_every_page_once():
    visits = wl.dashboard_session(3, CLIENTES, MORAS, 10)
    for r in range(10):
        pages = [p for p, _, _ in visits[5 * r:5 * r + 5]]
        assert sorted(pages) == sorted(wl.PAGES)


def test_filters_come_from_offered_lists_and_are_not_reused():
    visits = wl.dashboard_session(4, CLIENTES, MORAS, 40)
    offered = {("cliente", c) for c in CLIENTES} | {("mora", m) for m in MORAS}
    groups = []
    for page, kind, value in visits:
        assert (kind, value) in offered
        if not groups or groups[-1][0] != (kind, value):
            groups.append([(kind, value), page])
    assert len({g[0] for g in groups}) == len(groups)


def test_session_fails_loudly_when_filters_run_out():
    with pytest.raises(ValueError):
        wl.dashboard_session(1, CLIENTES[:3], [], 10)


def test_same_seed_same_batches():
    state = _state()
    assert (wl.increment_batches(9, state, 5)
            == wl.increment_batches(9, state, 5))


def test_different_seed_different_batch_doc_ids():
    state = _state()
    a = wl.increment_batches(9, state, 5)
    b = wl.increment_batches(10, state, 5)
    ids_a = {d for batch in a for d, _, _ in batch}
    ids_b = {d for batch in b for d, _, _ in batch}
    assert ids_a != ids_b


def test_batches_are_half_clones_half_new_with_fresh_ids():
    state = _state()
    texts = {t for _, t in state}
    state_ids = {d for d, _ in state}
    batches = wl.increment_batches(2, state, 6)
    seen: set[int] = set()
    for batch in batches:
        assert len(batch) == 200
        kinds = [k for _, _, k in batch]
        assert kinds.count("clone") == kinds.count("new") == 100
        for doc_id, text, kind in batch:
            assert doc_id not in state_ids and doc_id not in seen
            seen.add(doc_id)
            assert (text in texts) == (kind == "clone")


def test_batch_sources_are_not_reused():
    state = _state()
    batches = wl.increment_batches(2, state, 6)
    sources = [" ".join(reversed(t.split())) if k == "new" else t
               for batch in batches for _, t, k in batch]
    assert len(set(sources)) == len(sources)
