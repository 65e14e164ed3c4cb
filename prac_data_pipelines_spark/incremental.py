"""Incremental near-duplicate state: dedup a NEW batch of documents against
an already-ingested corpus WITHOUT re-processing the corpus.

The batch queries (``queries/text.py``) re-derive MinHash signatures from
text on every run — right for one-shot jobs, wrong for a pipeline that
ingests daily increments into a 100 TB corpus: tokenize+hash of the whole
history would dominate every run. This module persists the signature/band
state once per document, ever:

    <state_dir>/bands/   flat parquet of (doc_id bigint, sigs array<bigint>,
                         banda string, batch_id bigint): one file per
                         append, brought back to a few large files by
                         ``compact_dedup_state``

The signatures, the ``banda`` keys, the hot-band guard and the Jaccard
estimate are ``operators/lsh.py``'s, the same definitions the batch
queries and ``corpus_pipeline.curate`` use, so the persisted bands and
a fresh banding of the same text cannot drift apart.

Per increment, work is proportional to the BATCH plus one narrow scan of
the state: the batch is banded from its own text only, and its bands are
broadcast into ONE banded-LSH equi-join against the state together with
the batch's own bands — never all-pairs, never a corpus re-scan of text,
never a shuffle of the state. The state is not partitioned: a batch of a
few hundred docs carries band keys in every hash bucket, so a bucketed
layout prunes nothing and costs a directory listing per bucket and one
small file per bucket per append.

Drop rule (same convention as ``q_doc_curation``'s loser set): a new doc
is dropped when it matches an EXISTING doc at/above the threshold, or when
it is the higher-id side of a new-x-new match. Dropped docs do NOT enter
the state — duplicates never pollute later probes.

Replay identity (streaming, at-least-once): state rows carry the
``batch_id`` that appended them (-1 for the batch path). With
content-hash doc_ids a pure self-match is ambiguous — it is EITHER a
replayed doc meeting its own first-attempt rows (must be re-kept) OR a
first-delivery doc whose text exactly duplicates one published in an
EARLIER batch (must drop). The state's batch_id disambiguates: only a
self-match whose state row was written by the CURRENT batch is replay;
every other self-match is a genuine cross-batch exact duplicate
(ADVICE r5). Replayed kept docs come back ``mantener=true`` and are
excluded from the append, so verdicts are idempotent and state never
double-bands.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.lsh import (
    BANDS_EXPR,
    JACCARD_EST,
    band_guard,
    minhash_signatures,
)
from .operators.rounding import r4

DEFAULT_THRESHOLD = 0.5
# batch_id sentinel for state rows written outside a streaming batch
# (init bulk build, batch-mode increments): never equal to a real Spark
# streaming batch_id (those are >= 0), so batch-path rows can never be
# mistaken for the current attempt's own rows.
NO_BATCH = -1
# Read with a fixed schema: no footer read (a Spark job) per probe.
STATE_SCHEMA = "doc_id bigint, sigs array<bigint>, banda string, batch_id bigint"


def _bands(docs: DataFrame) -> DataFrame:
    """(doc_id, sigs, banda) for a document frame with a text column."""
    return minhash_signatures(docs).selectExpr("doc_id", "sigs", BANDS_EXPR)


def _state_rows(bands: DataFrame, batch_id: int) -> DataFrame:
    """Band rows in the state's on-disk schema, tagged with ``batch_id``."""
    return bands.select(F.col("doc_id").cast("long"), "sigs", "banda",
                        F.lit(batch_id).cast("long").alias("batch_id"))


def init_dedup_state(docs: DataFrame, state_dir: str) -> None:
    """Build the signature/band state from an initial corpus, with the
    batch queries' hot-band guard (``operators.lsh.band_guard``) applied —
    the bulk build sees global band populations. Members of a mega-band
    stay reachable through their other bands, and without the guard one
    hot band makes every probe of it scan thousands of state rows."""
    (_state_rows(band_guard(_bands(docs)), NO_BATCH)
     .write.mode("overwrite").parquet(f"{state_dir}/bands"))


def _read_state_bands(spark: SparkSession, state_dir: str) -> DataFrame:
    """The state's band rows. A state in the older bucketed layout
    (``bkt=<i>`` directories) is refused rather than read: its bucket
    column would ride into every probe and every append would add a file
    per bucket. ``compact_dedup_state`` migrates it."""
    path = f"{state_dir}/bands"
    if any(name.startswith("bkt=") for name in os.listdir(path)):
        raise ValueError(
            f"{path} is a bucketed dedup state; run "
            f"compact_dedup_state(spark, {state_dir!r}) once to migrate it "
            f"to the flat layout")
    return spark.read.schema(STATE_SCHEMA).parquet(path)


def incremental_dedup(spark: SparkSession, new_docs: DataFrame,
                      state_dir: str,
                      threshold: float = DEFAULT_THRESHOLD,
                      batch_id: int | None = None,
                      extra_probe_bands: DataFrame | None = None
                      ) -> DataFrame:
    """Keep/drop verdict for every doc in ``new_docs`` against the state
    (and the batch itself), appending the kept docs' bands to the state.

    Returns (doc_id, mantener, dup_de) in doc_id order, one row per
    distinct doc_id: ``dup_de`` is the lowest-id match (existing corpus
    or lower-id batch doc) for dropped docs, null for kept. New doc_ids
    must not collide with state doc_ids — use content-hash or monotonic
    ids upstream (``ingest_text_dir`` does).

    ``batch_id`` (streaming) gives the append a replay identity: state
    rows this batch already wrote are recognized on replay — the doc is
    re-KEPT (idempotent verdict) and not re-appended — while a
    self-match against an OLDER batch's row stays a genuine cross-batch
    exact-duplicate drop (see module docstring). Without a batch_id
    (batch path), every self-match drops — a batch re-run of the same
    increment is a dedup, not a replay.

    ``extra_probe_bands`` is a transient (doc_id, sigs, banda) set
    joined as additional probe candidates but never appended — the
    chunked path threads earlier chunks' DROPPED docs through it so
    drop-chains behave exactly as in the one-shot join.
    """
    bid = NO_BATCH if batch_id is None else int(batch_id)
    # Lazy checkpoint: the probe's broadcast is the first job to compute
    # the batch's bands, and the probe's own scan of them reads the stored
    # blocks instead of re-hashing the text.
    new_bands = _bands(new_docs).localCheckpoint(eager=False)
    state = (_read_state_bands(spark, state_dir)
             if os.path.isdir(f"{state_dir}/bands") else None)

    # The probe side: the batch's own bands, the state and the transient
    # set, with _f naming the rule a candidate pair (d1 <- batch doc,
    # d2 <- candidate) obeys:
    #   2  batch row: only a lower-id batch doc drops d1;
    #   1  state row the CURRENT batch wrote: a self-match is the replayed
    #      doc's own first attempt (re-keep), any other match drops d1;
    #   0  any other state or transient row: every match drops d1 — a
    #      self-match against an older batch's row is a first-delivery doc
    #      whose text duplicates an earlier-published one (same
    #      content-hash id, genuine drop, ADVICE r5).
    probe = new_bands.withColumn("_f", F.lit(2))
    if state is not None:
        own = (F.col("batch_id") == bid) if bid != NO_BATCH else F.lit(False)
        probe = probe.unionByName(state.select(
            "doc_id", "sigs", "banda",
            F.when(own, 1).otherwise(0).alias("_f")))
    if extra_probe_bands is not None:
        probe = probe.unionByName(
            extra_probe_bands.select("doc_id", "sigs", "banda")
            .withColumn("_f", F.lit(0)))

    d1, d2, f = F.col("d1"), F.col("d2"), F.col("_f")
    est = F.expr(JACCARD_EST)
    # The batch side is broadcast, so the state streams map-side through
    # the join and is never shuffled. An increment too big to broadcast
    # should be split (incremental_dedup_chunked), not shuffled against
    # the whole state.
    losers = (
        F.broadcast(new_bands.select(F.col("doc_id").alias("d1"),
                                     F.col("sigs").alias("s1"), "banda"))
        .join(probe.select(F.col("doc_id").alias("d2"),
                           F.col("sigs").alias("s2"), "banda", "_f"),
              "banda")
        .filter(F.when(f == 2, d2 < d1).when(f == 1, d2 != d1)
                .otherwise(True))
        .filter(r4(est) >= threshold)
        .select(d1.alias("doc_id"), "d2",
                F.lit(None).cast("array<bigint>").alias("sigs")))
    # One row per batch doc: every doc enters with a null match and its
    # signature (for the append), the losers with their candidates; the
    # lowest candidate wins. localCheckpoint (not cache) pins one
    # consistent verdict for both the state append below and the
    # caller's reads, WITHOUT leaking a cached frame per call: checkpoint
    # blocks are reclaimed by the ContextCleaner once the frame is
    # garbage-collected. One sorted partition: the batch is bounded by
    # the broadcast, and the caller reads the verdict in doc_id order.
    verdict = (
        new_bands.select("doc_id", F.lit(None).cast("long").alias("d2"),
                         "sigs")
        .unionByName(losers)
        .groupBy("doc_id")
        .agg(F.min("d2").alias("dup_de"), F.max("sigs").alias("sigs"))
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.col("dup_de").isNull().alias("mantener"),
                F.col("dup_de").cast("long").alias("dup_de"), "sigs")
        .coalesce(1).sortWithinPartitions("doc_id")
        .localCheckpoint())

    kept = verdict.filter("mantener")
    if state is not None and bid != NO_BATCH:
        # replayed docs are already banded (their first attempt wrote the
        # rows that identified the replay) — appending again would
        # double-band the state
        kept = kept.join(state.filter(F.col("batch_id") == bid)
                         .select("doc_id"), "doc_id", "left_anti")
    # the kept docs' bands re-derived from the verdict's signatures: the
    # same rows _bands gave, without a join back to the batch
    (_state_rows(kept.selectExpr("doc_id", "sigs", BANDS_EXPR), bid)
     .coalesce(1).write.mode("append").parquet(f"{state_dir}/bands"))
    return verdict.drop("sigs")


def incremental_dedup_chunked(spark: SparkSession, new_docs: DataFrame,
                              state_dir: str, chunk_docs: int = 100_000,
                              threshold: float = DEFAULT_THRESHOLD,
                              batch_id: int | None = None) -> DataFrame:
    """``incremental_dedup`` for increments too big to broadcast whole:
    split the batch into doc_id-ORDERED chunks and probe them
    sequentially, each chunk against the state (which by then includes
    the kept docs of earlier chunks).

    Ordered chunking preserves the one-shot semantics EXACTLY: the drop
    rule is lower-id-wins, so for a cross-chunk dup the lower id sits in
    the earlier chunk and the later higher-id side must see it as a
    candidate. Kept earlier docs are in the state by then; DROPPED
    earlier docs are NOT (dropped docs never enter the state), yet the
    one-shot within-batch join still matches against them — MinHash
    similarity is not transitive, so a doc can match a dropped doc
    without matching that doc's own ``dup_de`` (ADVICE r5). Earlier
    chunks' dropped docs therefore ride along in a TRANSIENT probe set
    (``extra_probe_bands`` — joined, never appended), and ``dup_de`` is
    the min across state, transient, and within-chunk matches, exactly
    as the one-shot join computes it (equivalence property test includes
    a non-transitive chain).

    Broadcast size is bounded by one chunk's band set; each chunk pays
    one narrow scan of the state; the transient set is bounded by the
    increment's dropped docs. Chunk edges come from one
    ``approx_percentile`` pass over doc_id (a fixed-size sketch — never
    an id collect, which would itself be data-sized at 100 TB)."""
    import math

    n = new_docs.count()
    n_chunks = math.ceil(n / chunk_docs) if n else 1
    if n_chunks <= 1:
        return incremental_dedup(spark, new_docs, state_dir, threshold,
                                 batch_id=batch_id)
    qs = ", ".join(str(i / n_chunks) for i in range(1, n_chunks))
    edges = new_docs.agg(F.expr(
        f"approx_percentile(doc_id, array({qs}), 10000)")).first()[0]
    lows = [None, *edges]
    highs = [*edges, None]
    verdicts = []
    dropped_bands: DataFrame | None = None
    for lo, hi in zip(lows, highs):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("doc_id") > lo)
        if hi is not None:
            cond = cond & (F.col("doc_id") <= hi)
        chunk = new_docs.filter(cond)
        if not chunk.head(1):  # duplicate sketch edges -> empty range
            continue
        v = incremental_dedup(spark, chunk, state_dir, threshold,
                              batch_id=batch_id,
                              extra_probe_bands=dropped_bands)
        verdicts.append(v)
        dropped = chunk.join(v.filter("NOT mantener").select("doc_id"),
                             "doc_id", "left_semi")
        if dropped.head(1):
            # re-band only the chunk's dropped docs (bounded, determin-
            # istic re-hash); localCheckpoint materializes the small set
            # so later chunks don't re-derive the whole lineage
            db = _bands(dropped).localCheckpoint()
            dropped_bands = (db if dropped_bands is None
                             else dropped_bands.unionByName(db))
    out = verdicts[0]
    for v in verdicts[1:]:
        out = out.unionByName(v)
    return out.orderBy("doc_id")


def compact_dedup_state(spark: SparkSession, state_dir: str,
                        target_file_mb: int = 128) -> dict:
    """Standing maintenance for the band state: every increment appends
    one small file, so a daily pipeline accretes a file per day — the
    probe scan then pays one task per tiny file. Delegates to the lake
    compactor (``sinks.lake.compact_partitions``: stage + atomic swap,
    ``ceil(bytes / target)`` output files) and RE-APPLIES the hot-band
    guard: appends cannot see global band populations, so a band
    crossing the threshold between compactions is pruned here —
    compaction is the state's maintenance point for both file count and
    band health.

    The rewrite keeps exactly the four state columns, so it also
    migrates a state in the older bucketed layout (``bkt=<i>``
    directories, which ``incremental_dedup`` refuses) to the flat one.
    Returns before/after file counts."""
    from .sinks.lake import compact_partitions

    return compact_partitions(
        spark, f"{state_dir}/bands", target_file_mb=target_file_mb,
        transform=lambda df: band_guard(
            df.select("doc_id", "sigs", "banda", "batch_id")))
