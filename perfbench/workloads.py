"""Seeded traffic for the benchmark (pure Python, no Spark).

The tables the program reads are fixed (``data/``); what ``--seed``
changes is the traffic against them: the dashboard analyst session and
the composition of every dedup increment. The same seed gives the same
traffic.
"""

from __future__ import annotations

import random

PAGES = ("resumen", "cartera", "clientes", "kpis", "auditoria")


# Pages visited under one filter, in this order. The first page of a group
# fills the dashboard's per-filter cache with views the second one reuses
# (resumen -> kpis: kpis_resumen and kpis_concentracion_mxn; cartera ->
# clientes: none). The grouping is fixed so that every seed gets the same
# mix of cache hits and misses.
GROUPS = (("resumen", "kpis"), ("cartera", "clientes"), ("auditoria",))


def dashboard_session(seed: int, clientes: list[str], moras: list[str],
                      n_rounds: int) -> list[tuple[str, str, str]]:
    """One analyst's browsing session as (page, filter kind, value) visits.

    The session is a run of rounds; each round visits the page groups of
    ``GROUPS`` in a seeded order, and each group uses one fresh filter
    drawn without replacement from every filter the dashboard offers
    (client names and overdue categories). Every round requests every page
    once, so a page-latency median does not depend on which pages the seed
    favoured; a filter is never reused, so no (page, filter) pair repeats
    and the only dashboard-cache hits are the views shared within a group.
    """
    rng = random.Random(f"session:{seed}")
    pool = ([("cliente", c) for c in clientes]
            + [("mora", m) for m in moras])
    rng.shuffle(pool)
    visits: list[tuple[str, str, str]] = []
    for _ in range(n_rounds):
        for group in rng.sample(GROUPS, len(GROUPS)):
            if not pool:
                raise ValueError("dashboard session ran out of distinct filters")
            kind, value = pool.pop()
            visits.extend((p, kind, value) for p in group)
    return visits


def increment_batches(seed: int, state: list[tuple[int, str]],
                      n_batches: int, batch_size: int = 200
                      ) -> list[list[tuple[int, str, str]]]:
    """Dedup increments as lists of (doc_id, text, kind).

    Half of each batch are exact clones of state documents (kind
    ``clone``; the program must drop them), half are word-reversed state
    documents (kind ``new``; reversed 3-word shingles make them new text).
    Source documents are drawn without replacement across all batches, and
    new doc_ids are seeded 62-bit ids that never collide with the state's.
    """
    half = batch_size // 2
    need = n_batches * 2 * half
    if need > len(state):
        raise ValueError(f"{n_batches} batches need {need} state docs, "
                         f"state has {len(state)}")
    rng = random.Random(f"increments:{seed}")
    sources = rng.sample(state, need)
    taken = {doc_id for doc_id, _ in state}
    batches = []
    for b in range(n_batches):
        chunk = sources[b * 2 * half:(b + 1) * 2 * half]
        batch = []
        for j, (_, text) in enumerate(chunk):
            doc_id = rng.getrandbits(62)
            while doc_id in taken:
                doc_id = rng.getrandbits(62)
            taken.add(doc_id)
            if j < half:
                batch.append((doc_id, text, "clone"))
            else:
                batch.append((doc_id, " ".join(reversed(text.split())), "new"))
        rng.shuffle(batch)
        batches.append(batch)
    return batches
