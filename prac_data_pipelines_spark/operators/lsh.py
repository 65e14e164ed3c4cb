"""MinHash-LSH near-duplicate definitions, one home for every Spark-side
user: the registry's dedup queries (``queries/text.py``, and the band
guard and pair join of ``queries/media.py``'s perceptual hashes), the
corpus curation (``corpus_pipeline.curate``) and the incremental dedup
state (``incremental.py``), whose on-disk ``banda`` column is
``BANDS_EXPR``. A persisted state and a fresh curation band the same way
because they read the same strings.

Every hash is md5-derived so the DuckDB oracle reproduces it bit-for-bit;
its SQL twins live with the oracle SQL in ``queries/text.py`` and are
built from the constants here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# words: split on whitespace runs
WORDS = "split(trim(text), '\\\\s+')"

# 3-word shingles over a pre-projected words array `_ws` (single split per
# row; an inline form re-splits the text for every element_at), guarded
# for short docs
_SHINGLES_WS = (
    "CASE WHEN size(_ws) >= 3 THEN "
    "transform(sequence(0, size(_ws) - 3), "
    "i -> concat_ws(' ', element_at(_ws, i+1), element_at(_ws, i+2), "
    "element_at(_ws, i+3))) "
    "ELSE array(trim(text)) END"
)


# 28-bit base hash of a string s (identical on both engines)
def _h(s: str) -> str:
    return f"cast(conv(substring(md5({s}), 1, 7), 16, 10) as bigint)"


# MinHash parameters: k permutations (a*h + b) mod p over the base hash.
# The multipliers must be pairwise INDEPENDENT: with the naive
# a_i = c*(i+1), every permutation of hash h is (c*h)*(i+1)+b_i, so one
# shingle whose c*h mod p is tiny wins the minimum under ALL permutations
# of every doc containing it — near-disjoint docs then collide with
# estimated Jaccard 1.0 (observed on the synthetic corpus: est 1.0 vs
# exact 0.013). Distinct powers c^(i+1) mod p carry no linear relation.
MINHASH_K = 8
MINHASH_P = 2147483647
_A = [pow(2654435761, i + 1, MINHASH_P) for i in range(MINHASH_K)]
_B = [pow(40503, i + 3, MINHASH_P) for i in range(MINHASH_K)]
N_BANDS = 4  # bands of 2 rows each

# Single-pass fold: one traversal of the shingle hashes carries all K
# running minima. The naive form — transform(perms, i -> array_min(map hs))
# — re-evaluates the (md5) hash array once per permutation at runtime
# because lambda bodies multiply evaluation counts that Catalyst's
# CollapseProject cannot see. The fold evaluates _hs exactly once.
SIGS = (
    f"aggregate(_hs, "
    f"transform(sequence(0, {MINHASH_K - 1}), i -> {MINHASH_P}L), "
    f"(acc, h) -> zip_with(acc, sequence(0, {MINHASH_K - 1}), (m, i) -> "
    f"least(m, (element_at(array({','.join(str(a) + 'L' for a in _A)}), i+1) * h + "
    f"element_at(array({','.join(str(b) + 'L' for b in _B)}), i+1)) % {MINHASH_P}L)))"
)

# Band keys of a `sigs` column: one row per band, 'b:<sig 2b>:<sig 2b+1>'.
BANDS_EXPR = (
    f"explode(transform(sequence(0, {N_BANDS - 1}), b -> "
    f"concat(b, ':', element_at(sigs, 2*b+1), ':', element_at(sigs, 2*b+2)))) AS banda"
)

# Estimated Jaccard of a pair: the share of agreeing signature positions.
JACCARD_EST = (
    f"size(filter(zip_with(s1, s2, (x, y) -> x = y), v -> v)) "
    f"/ cast({MINHASH_K} as double)"
)

# Hot-band guard: a band key shared by a huge doc population (corpus-wide
# boilerplate minimizers) would make the within-bucket self-join quadratic
# in that bucket. Bands larger than this are dropped from candidate
# generation on BOTH engines — the standard LSH recall/cost trade: members
# of a mega-band are near-dups of thousands of docs and are still reachable
# through their other (discriminative) bands.
MAX_BAND_DOCS = 1000


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sigs array<bigint>) MinHash signatures of a frame with
    doc_id and text columns."""
    return (
        docs.selectExpr("doc_id", "text", f"{WORDS} AS _ws")
        .selectExpr("doc_id", f"{_SHINGLES_WS} AS _sh")
        .selectExpr("doc_id", f"transform(_sh, s -> {_h('s')}) AS _hs")
        .selectExpr("doc_id", f"{SIGS} AS sigs")
    )


def band_guard(bands: DataFrame) -> DataFrame:
    """Drop the bands shared by more than ``MAX_BAND_DOCS`` docs. The count
    window partitions by ``banda`` — the same key the candidate join
    shuffles on, so the window's exchange is reused by the join (no extra
    shuffle)."""
    w = Window.partitionBy("banda")
    return (bands.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= MAX_BAND_DOCS).drop("_n"))


def band_pairs(bands: DataFrame) -> DataFrame:
    """Candidate pairs of a banded (doc_id, banda[, value]) frame: its
    self-join on ``banda`` with ``d1 < d2``, as (banda, d1, d2), with the
    value column carried as ``s1``/``s2`` when the frame has one. A pair
    sharing several bands appears once per shared band."""
    vals = [c for c in bands.columns if c not in ("doc_id", "banda")]

    def side(d: str, s: str) -> DataFrame:
        return bands.select(F.col("doc_id").alias(d),
                            *(F.col(v).alias(s) for v in vals), "banda")

    return (side("d1", "s1").join(side("d2", "s2"), "banda")
            .filter(F.col("d1") < F.col("d2")))
