"""Incremental near-dup state: per-increment verdicts against the
persisted corpus state, append-only growth, and the one-broadcast probe."""

from __future__ import annotations

import math
import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def state_dir():
    d = tempfile.mkdtemp(prefix="dedup_state_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "completely different content about distributed query engines at scale"),
    (3, "a third document whose words overlap with nothing else in the corpus"),
]


def test_incremental_dedup_verdicts_and_state_growth(spark, state_dir):
    from prac_data_pipelines_spark.incremental import (
        incremental_dedup,
        init_dedup_state,
    )
    from prac_data_pipelines_spark.operators.lsh import N_BANDS

    init_dedup_state(_docs(spark, BASE), state_dir)
    batch = _docs(spark, [
        (10, BASE[0][1]),        # clone of existing doc 1 -> dropped
        (11, "entirely novel text that matches no prior document at all ok"),
        (12, "entirely novel text that matches no prior document at all ok"),
        # 12 duplicates 11 within the batch -> lower id wins
    ])
    got = {r["doc_id"]: (r["mantener"], r["dup_de"])
           for r in incremental_dedup(spark, batch, state_dir).collect()}
    assert got == {10: (False, 1), 11: (True, None), 12: (False, 11)}

    # only KEPT docs' bands entered the state: 3 base + 1 kept = 4 docs
    state = spark.read.parquet(f"{state_dir}/bands")
    assert state.count() == 4 * N_BANDS
    assert state.select("doc_id").distinct().count() == 4

    # a later increment sees the previously-kept doc as corpus
    batch2 = _docs(spark, [(20, batch.collect()[1]["text"])])
    got2 = incremental_dedup(spark, batch2, state_dir).collect()
    assert (got2[0]["mantener"], got2[0]["dup_de"]) == (False, 11)


def test_incremental_dedup_no_overlap_keeps_all(spark, state_dir):
    from prac_data_pipelines_spark.incremental import (
        incremental_dedup,
        init_dedup_state,
    )

    init_dedup_state(_docs(spark, BASE), state_dir)
    batch = _docs(spark, [
        (30, "fresh corpus member number one with its own vocabulary set"),
        (31, "another fresh member speaking about completely separate topics"),
    ])
    out = incremental_dedup(spark, batch, state_dir)
    assert [r["mantener"] for r in out.collect()] == [True, True]


def _subtree(plan: str, node: str) -> str:
    """The lines of ``plan``'s first ``node`` and everything below it."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    i = next(k for k, line in enumerate(lines) if node in line)
    out = [lines[i]]
    for line in lines[i + 1:]:
        if depth(line) <= depth(lines[i]):
            break
        out.append(line)
    return "\n".join(out)


def test_probe_is_one_broadcast_of_the_batch(spark, state_dir, monkeypatch):
    """The verdict is ONE probe: no Spark job runs before it (no driver
    collect of the batch's band keys), its plan broadcasts exactly one
    relation — the batch's checkpointed bands, never the state — and the
    state is read by one scan of the four state columns."""
    from prac_data_pipelines_spark.incremental import (
        incremental_dedup,
        init_dedup_state,
    )

    init_dedup_state(_docs(spark, BASE), state_dir)
    DataFrame = type(spark.range(0))  # the session's concrete frame class
    sc = spark.sparkContext
    group = "incremental-probe-test"
    probes = []
    checkpoint = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plan = self._jdf.queryExecution().executedPlan().toString()
        if "BroadcastExchange" in plan:
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
            probes.append((plan, jobs))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    sc.setJobGroup(group, "incremental probe test")
    try:
        got = incremental_dedup(spark, _docs(spark, [
            (40, BASE[0][1]),
            (41, "a novel document that shares no words with the base set"),
        ]), state_dir, batch_id=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [(r["doc_id"], r["mantener"], r["dup_de"]) for r in got] == [
        (40, False, 1), (41, True, None)]

    assert len(probes) == 1
    plan, jobs_before = probes[0]
    assert jobs_before == []
    assert plan.count("BroadcastExchange") == 1
    broadcast = _subtree(plan, "BroadcastExchange")
    assert "Scan ExistingRDD" in broadcast and "FileScan" not in broadcast
    scans = [line for line in plan.splitlines() if "FileScan" in line]
    assert len(scans) == 1
    read = re.search(r"ReadSchema: struct<(.*)>", scans[0]).group(1)
    assert sorted(re.findall(r"(?:^|,)(\w+):", read)) == [
        "banda", "batch_id", "doc_id", "sigs"]


def test_each_append_adds_one_file_and_compaction_restores_count(
        spark, state_dir):
    """An append writes one file (the batch is bounded by the broadcast),
    and compaction brings the file count back to ceil(bytes / target)."""
    from prac_data_pipelines_spark.incremental import (
        compact_dedup_state,
        incremental_dedup,
        init_dedup_state,
    )

    bands = f"{state_dir}/bands"

    def files():
        return [f for f in os.listdir(bands) if f.endswith(".parquet")]

    init_dedup_state(_docs(spark, BASE), state_dir)
    base = len(files())
    for i in range(3):
        incremental_dedup(spark, _docs(spark, [
            (100 + 2 * i, BASE[0][1]),
            (101 + 2 * i, f"append number {i} with its own fresh words "
                          f"kappa lambda mu nu {i}")]), state_dir)
        assert len(files()) == base + i + 1
    size = sum(os.path.getsize(os.path.join(bands, f)) for f in files())
    target_mb = 1
    stats = compact_dedup_state(spark, state_dir, target_file_mb=target_mb)
    want = math.ceil(size / (target_mb << 20))
    assert stats["files_after"] == len(files()) == want


def test_bucketed_state_refused_then_migrated_by_compaction(spark, state_dir):
    """A state in the older bucketed layout (``bkt=<i>`` directories) is
    refused with an error naming the migration, and ``compact_dedup_state``
    rewrites it flat with the four state columns, after which it answers
    probes as before."""
    from prac_data_pipelines_spark.incremental import (
        NO_BATCH,
        _bands,
        compact_dedup_state,
        incremental_dedup,
    )
    from prac_data_pipelines_spark.operators.lsh import N_BANDS

    (_bands(_docs(spark, BASE))
     .withColumn("bkt", F.pmod(F.hash("banda"), F.lit(64)))
     .withColumn("batch_id", F.lit(NO_BATCH).cast("long"))
     .write.partitionBy("bkt").parquet(f"{state_dir}/bands"))
    probe = _docs(spark, [(50, BASE[0][1])])
    with pytest.raises(ValueError, match="compact_dedup_state"):
        incremental_dedup(spark, probe, state_dir)
    # the refused call wrote nothing
    assert all(n.startswith(("bkt=", "_", "."))
               for n in os.listdir(f"{state_dir}/bands"))

    compact_dedup_state(spark, state_dir)
    assert not any(n.startswith("bkt=")
                   for n in os.listdir(f"{state_dir}/bands"))
    state = spark.read.parquet(f"{state_dir}/bands")
    assert sorted(state.columns) == ["banda", "batch_id", "doc_id", "sigs"]
    assert state.count() == len(BASE) * N_BANDS
    got = incremental_dedup(spark, probe, state_dir).collect()
    assert [(r["doc_id"], r["mantener"], r["dup_de"]) for r in got] == [
        (50, False, 1)]


def test_cli_incremental_ingest_two_rounds(spark, tmp_path, monkeypatch):
    """--ingest-text + --dedup-state across two runs: round 2's repeat of a
    round-1 file is dropped against the state; the novel file is kept."""
    import sys

    from prac_data_pipelines_spark import corpus_pipeline

    raw1 = tmp_path / "raw1"
    raw1.mkdir()
    (raw1 / "a.txt").write_text(
        "first corpus file with plenty of words to shingle and sign today")
    (raw1 / "b.txt").write_text(
        "second file carrying a completely different vocabulary for banding")
    raw2 = tmp_path / "raw2"
    raw2.mkdir()
    (raw2 / "a_copy.txt").write_text((raw1 / "a.txt").read_text())
    (raw2 / "c.txt").write_text(
        "third file that is novel relative to everything ingested before")

    state = str(tmp_path / "state")
    for i, raw in enumerate((raw1, raw2), 1):
        out = str(tmp_path / f"out{i}")
        monkeypatch.setattr(sys, "argv", [
            "corpus_pipeline", "--ingest-text", str(raw), "--out", out,
            "--dedup-state", state, "--skip-index"])
        assert corpus_pipeline.main() == 0

    v2 = spark.read.parquet(str(tmp_path / "out2" / "incremental_verdicts"))
    rows = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in v2.collect()}
    assert len(rows) == 2
    assert sorted(m for m, _ in rows.values()) == [False, True]
    kept2 = spark.read.parquet(
        str(tmp_path / "out2" / "kept" / "documents.parquet"))
    assert kept2.count() == 1
    assert spark.read.parquet(str(tmp_path / "out2" / "curado")).count() <= 1


def test_compact_dedup_state_preserves_verdicts(spark, state_dir):
    """Compaction shrinks the accreted file count without changing what
    the state knows: an identical probe re-run drops the same docs."""
    from prac_data_pipelines_spark.incremental import (
        compact_dedup_state,
        incremental_dedup,
        init_dedup_state,
    )

    init_dedup_state(_docs(spark, BASE), state_dir)
    for i in range(3):
        incremental_dedup(spark, _docs(spark, [
            (100 + i, f"increment number {i} bringing fresh words batch "
                      f"alpha beta gamma delta {i}")]), state_dir)
    probe = _docs(spark, [(200, BASE[0][1]), (201, "increment number 0 "
                          "bringing fresh words batch alpha beta gamma "
                          "delta 0")])
    before = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in
              incremental_dedup(spark, probe, state_dir).collect()}
    assert before == {200: (False, 1), 201: (False, 100)}

    stats = compact_dedup_state(spark, state_dir)
    assert stats["files_after"] < stats["files_before"]
    # same probe, new ids: the compacted state answers identically
    probe2 = _docs(spark, [(300, BASE[0][1])])
    after = incremental_dedup(spark, probe2, state_dir).collect()
    assert (after[0]["mantener"], after[0]["dup_de"]) == (False, 1)


def test_stream_ingest_dedup_across_micro_batches(spark, state_dir, tmp_path):
    """Streaming ingestion through the dedup state: per-file micro-batches,
    later batches deduped against earlier ones' state, published corpus
    unique, verdict audit complete."""
    from prac_data_pipelines_spark.streaming.corpus import stream_ingest_dedup

    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch1 = _docs(spark, [
        (1, "stream batch one document alpha with sufficient words to band"),
        (2, "stream batch one document beta carrying separate vocabulary")])
    batch2 = _docs(spark, [
        (3, "stream batch one document alpha with sufficient words to band"),
        (4, "a genuinely novel third topic arriving in the second batch")])
    batch1.coalesce(1).write.parquet(str(src / "f1.parquet"))
    batch2.coalesce(1).write.parquet(str(src / "f2.parquet"))
    # pin distinct mtimes so the file source's oldest-first ordering is
    # deterministic (same-ms writes would leave batch order to chance)
    import os
    import time

    now = time.time()
    for i, name in enumerate(("f1.parquet", "f2.parquet")):
        for root, _dirs, files in os.walk(src / name):
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 10, now + i * 10))

    stream = (spark.readStream
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/*.parquet"))
    stream_ingest_dedup(stream, state_dir, out, ckpt)

    verdicts = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in
                spark.read.parquet(f"{out}/verdicts").collect()}
    assert verdicts[3] == (False, 1)          # cross-batch duplicate
    assert verdicts[1][0] and verdicts[2][0] and verdicts[4][0]
    corpus = spark.read.parquet(f"{out}/corpus")
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2, 4]


def test_chunked_dedup_equals_one_shot(spark, tmp_path):
    """Splitting an oversized increment into id-ordered chunks must give
    the EXACT verdicts of the one-shot call — lower-id-wins makes the
    earlier chunk keep the winner, so the later chunk's state probe
    produces the same dup_de the within-batch join would have."""
    import shutil as _sh

    from prac_data_pipelines_spark.incremental import (
        incremental_dedup,
        incremental_dedup_chunked,
        init_dedup_state,
    )

    texts = [
        "alpha corpus text with several words in play today",
        "beta entirely different body about engines and planners",
        "gamma third topic mentioning streams and windows broadly",
    ]
    # 12 docs, clones interleaved ACROSS what will become chunk borders
    batch = _docs(spark, [(i, texts[i % 3]) for i in range(12)])
    dirs = [str(tmp_path / d) for d in ("one", "chunked")]
    for d in dirs:
        init_dedup_state(_docs(spark, BASE), d)
    want = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in
            incremental_dedup(spark, batch, dirs[0]).collect()}
    got = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in
           incremental_dedup_chunked(spark, batch, dirs[1],
                                     chunk_docs=4).collect()}
    assert got == want
    # both states learned the same kept set
    s0 = set(r["doc_id"] for r in spark.read.parquet(
        f"{dirs[0]}/bands").select("doc_id").distinct().collect())
    s1 = set(r["doc_id"] for r in spark.read.parquet(
        f"{dirs[1]}/bands").select("doc_id").distinct().collect())
    assert s0 == s1
    for d in dirs:
        _sh.rmtree(d, ignore_errors=True)


def _chain_triple():
    """(E, A, B) word-window texts with NON-transitive MinHash links:
    je(E,A)=0.625 and je(A,B)=0.75 are above the 0.5 threshold with band
    collisions, je(E,B)=0.375 is below it — verified constants for
    MINHASH_K=8 / N_BANDS=4."""
    base = [f"tok{i}" for i in range(60)]
    return (" ".join(base[0:30]), " ".join(base[5:35]),
            " ".join(base[12:42]))


def test_chunked_chain_through_dropped_doc(spark, tmp_path):
    """Exact one-shot equivalence must hold for drop-CHAINS through
    dropped docs: A drops against state doc E, and B (a later, higher-id
    chunk) matches A but NOT E. The one-shot within-batch join drops B
    with dup_de=A even though A itself was dropped; the chunked path
    must reproduce that via the transient dropped-doc probe set — before
    the fix B was silently KEPT (ADVICE r5). Clone-based tests cannot
    catch this because exact-clone similarity IS transitive."""
    import shutil as _sh

    from prac_data_pipelines_spark.incremental import (
        incremental_dedup,
        incremental_dedup_chunked,
        init_dedup_state,
    )

    e_text, a_text, b_text = _chain_triple()
    batch = _docs(spark, [(10, a_text), (20, b_text)])
    dirs = [str(tmp_path / d) for d in ("one", "chunked")]
    for d in dirs:
        init_dedup_state(_docs(spark, [(1, e_text)]), d)
    want = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in
            incremental_dedup(spark, batch, dirs[0]).collect()}
    # the scenario must actually materialize: A drops against E, B drops
    # against the DROPPED A (not against E)
    assert want == {10: (False, 1), 20: (False, 10)}
    got = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in
           incremental_dedup_chunked(spark, batch, dirs[1],
                                     chunk_docs=1).collect()}
    assert got == want
    # neither state learned the dropped docs
    for d in dirs:
        ids = {r["doc_id"] for r in spark.read.parquet(f"{d}/bands")
               .select("doc_id").distinct().collect()}
        assert ids == {1}
        _sh.rmtree(d, ignore_errors=True)


def test_chunked_replay_at_chunk_boundary(spark, tmp_path):
    """At-least-once replay that crashed BETWEEN chunk appends: chunk 1
    appended its kept bands (tagged with the batch_id) and then the job
    died before later chunks ran. The replay re-runs the whole chunk
    sequence — verdicts and state must equal the no-crash run (chunk-1
    docs re-keep via their own batch rows, nothing double-bands)."""
    import shutil as _sh

    from prac_data_pipelines_spark.incremental import (
        incremental_dedup,
        incremental_dedup_chunked,
        init_dedup_state,
    )

    docs = [
        (11, "chunk one keeper document alpha with plenty of words here"),
        (12, "chunk one keeper document alpha with plenty of words here"),
        (13, "chunk one keeper document alpha with plenty of words here"),
        (14, "chunk two novel document omega speaking of other matters"),
    ]
    batch = _docs(spark, docs)
    crash, clean = str(tmp_path / "crash"), str(tmp_path / "clean")
    for d in (crash, clean):
        init_dedup_state(_docs(spark, BASE), d)

    # first attempt: chunk 1 (ids <= the median edge 12 for chunk_docs=2)
    # completes its state append, then the job crashes
    first_chunk = batch.filter(F.col("doc_id") <= 12)
    incremental_dedup(spark, first_chunk, crash, batch_id=7)

    # replay runs the FULL chunked sequence against the half-updated state
    replayed = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in
                incremental_dedup_chunked(spark, batch, crash,
                                          chunk_docs=2,
                                          batch_id=7).collect()}
    no_crash = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in
                incremental_dedup_chunked(spark, batch, clean,
                                          chunk_docs=2,
                                          batch_id=7).collect()}
    assert replayed == no_crash == {11: (True, None), 12: (False, 11),
                                    13: (False, 11), 14: (True, None)}
    # identical state contents (base corpus + the two kept docs), and the
    # same row count — the crashed path did not double-band doc 11
    for d in (crash, clean):
        ids = {r["doc_id"] for r in spark.read.parquet(f"{d}/bands")
               .select("doc_id").distinct().collect()}
        assert ids == {1, 2, 3, 11, 14}
    n_crash = spark.read.parquet(f"{crash}/bands").count()
    n_clean = spark.read.parquet(f"{clean}/bands").count()
    assert n_crash == n_clean
    for d in (crash, clean):
        _sh.rmtree(d, ignore_errors=True)


def test_stream_replay_is_idempotent(spark, state_dir, tmp_path):
    """At-least-once replay: wipe the checkpoint (so every micro-batch
    replays against a state that already contains its docs) and re-run.
    The published corpus must be IDENTICAL — replayed kept docs are
    recognized via their own batch_id-tagged state rows and re-KEPT
    (idempotent verdicts), replayed dropped docs stay dropped, and the
    state must not grow (no double-banding)."""
    import shutil as _sh

    from prac_data_pipelines_spark.streaming.corpus import stream_ingest_dedup

    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _docs(spark, [
        (1, "replay test document alpha with enough words to shingle fine"),
        (2, "replay test document alpha with enough words to shingle fine"),
        (3, "replay test document beta on an unrelated separate subject"),
    ]).coalesce(1).write.parquet(str(src / "f1.parquet"))

    def run():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src) + "/*.parquet"))
        stream_ingest_dedup(stream, state_dir, out, ckpt)

    run()
    first = sorted(r["doc_id"] for r in
                   spark.read.parquet(f"{out}/corpus").collect())
    assert first == [1, 3]                      # 2 is a within-batch clone
    state_n = spark.read.parquet(f"{state_dir}/bands").count()

    _sh.rmtree(ckpt)                            # force full replay
    run()
    replayed = spark.read.parquet(f"{out}/corpus")
    assert sorted(r["doc_id"] for r in replayed.collect()) == [1, 3]
    verdicts = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in
                spark.read.parquet(f"{out}/verdicts").collect()}
    # replayed kept docs meet their OWN batch-tagged state rows and come
    # back kept (verdicts idempotent); the clone still points at the
    # original
    assert verdicts[1] == (True, None) and verdicts[3] == (True, None)
    assert verdicts[2] == (False, 1)
    assert spark.read.parquet(f"{state_dir}/bands").count() == state_n


def test_cross_batch_exact_dup_with_content_hash_ids(spark, state_dir,
                                                     tmp_path):
    """A FIRST-DELIVERY doc whose text exactly duplicates one published
    in an EARLIER batch carries the same content-hash doc_id as that
    doc's state rows. Its self-match must be read as a cross-batch dup
    (drop), NOT as a replay (re-publish) — the r5 ``dup_de == doc_id``
    rule republished it, landing duplicate text in the corpus
    (ADVICE r5). The batch_id tag on state rows disambiguates."""
    from prac_data_pipelines_spark.streaming.corpus import stream_ingest_dedup

    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    text_a = "exact duplicate payload arriving twice across batches here"
    # content-hash ids: the SAME text gets the SAME doc_id in both files
    _docs(spark, [
        (100, text_a),
        (101, "first batch novel companion document with its own words"),
    ]).coalesce(1).write.parquet(str(src / "f1.parquet"))
    _docs(spark, [
        (100, text_a),   # first delivery in batch 2, but text seen before
        (102, "second batch genuinely new arrival on another topic"),
    ]).coalesce(1).write.parquet(str(src / "f2.parquet"))
    import os
    import time

    now = time.time()
    for i, name in enumerate(("f1.parquet", "f2.parquet")):
        for root, _dirs, files in os.walk(src / name):
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/*.parquet"))
    stream_ingest_dedup(stream, state_dir, out, ckpt)

    # the duplicate text is published exactly once (batch 1); batch 2's
    # copy dropped with dup_de pointing at the state row (its own id)
    corpus = spark.read.parquet(f"{out}/corpus")
    assert sorted(r["doc_id"] for r in corpus.collect()) == [100, 101, 102]
    b2 = {r["doc_id"]: (r["mantener"], r["dup_de"]) for r in
          spark.read.parquet(f"{out}/verdicts/batch_id=1").collect()}
    assert b2[100] == (False, 100)
    assert b2[102] == (True, None)
    # and the state holds ONE copy of the duplicate's bands
    from prac_data_pipelines_spark.operators.lsh import N_BANDS

    state = spark.read.parquet(f"{state_dir}/bands")
    assert state.filter(F.col("doc_id") == 100).count() == N_BANDS


def test_hot_band_guard_at_init_and_compaction(spark, state_dir, monkeypatch):
    """Mega-bands are pruned when the full state is visible: at init, and
    at compaction for bands that crossed the threshold via appends."""
    from prac_data_pipelines_spark import incremental
    from prac_data_pipelines_spark.operators import lsh

    boiler = "the same boilerplate text repeated across the whole corpus"
    distinct = "one genuinely distinct document amid the noise"

    # init guard: with threshold 3, the 5-doc boilerplate band is dropped
    monkeypatch.setattr(lsh, "MAX_BAND_DOCS", 3)
    docs = _docs(spark, [(i, boiler) for i in range(5)] + [(10, distinct)])
    incremental.init_dedup_state(docs, state_dir)
    state = spark.read.parquet(f"{state_dir}/bands")
    assert state.select("doc_id").distinct().count() == 1  # only `distinct`
    # recall trade: a boilerplate clone probes nothing and re-enters once,
    # after which LATER clones match IT and drop again
    v = {r["doc_id"]: r["mantener"] for batch in range(2) for r in
         incremental.incremental_dedup(
             spark, _docs(spark, [(100 + batch, boiler)]), state_dir).collect()}
    assert v == {100: True, 101: False}

    # compaction guard: raise the threshold, append clones legitimately,
    # lower it back — compaction prunes the now-hot band
    monkeypatch.setattr(lsh, "MAX_BAND_DOCS", 1000)
    for i in range(4):
        incremental.incremental_dedup(
            spark, _docs(spark, [(200 + i, f"{boiler} variant {i} " * 3)]),
            state_dir)
    monkeypatch.setattr(lsh, "MAX_BAND_DOCS", 3)
    incremental.compact_dedup_state(spark, state_dir)
    pops = (spark.read.parquet(f"{state_dir}/bands")
            .groupBy("banda").count().agg(F.max("count")).collect()[0][0])
    assert pops <= 3
