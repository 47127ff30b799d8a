"""Deterministic, distributed synthetic document corpus with PLANTED
near-duplicates — scale evidence for the dedup/sketch family.

The /root/testdata documents table is fixed at 500 rows for every sf
(TESTDATA.md), so the 100-TB claims for MinHash/SimHash/ANN were argued
from plan shape only. This generator (the gen_change_events pattern,
cdc/events.py:26-86, applied to text) produces an arbitrarily large
corpus where ground truth is known BY CONSTRUCTION:

- every column is a pure function of doc_id (spark.range + xxhash64
  expressions): deterministic across runs and cluster sizes, no
  shuffle, no driver data, no Python;
- the first ``(1 - dup_fraction) * n_docs`` ids are originals with
  independent word streams; the rest copy a deterministic parent's
  stream with ``mutate_pct``% of word positions replaced — a planted
  near-dup pair (parent_id, doc_id) with char-shingle Jaccard ~ 0.9
  at the default 3% mutation rate.

Used by tests/test_dedup.py (planted-pair recall at small n) and
tests/test_streaming.py (stream vs batch near-dup pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def gen_documents(
    spark: SparkSession,
    n_docs: int,
    dup_fraction: float = 0.1,
    words_per_doc: int = 100,
    vocab_size: int = 5000,
    mutate_pct: int = 3,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """(doc_id long, parent_id long nullable, text string) — lazy, no
    shuffle. ``parent_id`` is non-null exactly for the planted dups."""
    n_orig = max(1, int(n_docs * (1.0 - dup_fraction)))
    rng = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    doc = F.col("id")
    is_dup = doc >= F.lit(n_orig)
    parent = F.when(is_dup, F.abs(F.xxhash64(F.lit(seed), F.lit(1), doc)) % n_orig).otherwise(doc)

    def word_idx(src, pos):
        return F.abs(F.xxhash64(F.lit(seed), F.lit(2), src, pos)) % vocab_size

    def word_at(pos):
        mutated = (F.abs(F.xxhash64(F.lit(seed), F.lit(3), doc, pos)) % 100) < mutate_pct
        # dups follow the PARENT's word stream except at mutated
        # positions, which draw from a disjoint stream (doc + n_docs
        # cannot collide with any parent id)
        idx = F.when(is_dup & mutated, word_idx(doc + n_docs, pos)).otherwise(word_idx(parent, pos))
        return F.concat(F.lit("w"), idx.cast("string"))

    text = F.array_join(F.transform(F.sequence(F.lit(1), F.lit(words_per_doc)), word_at), " ")
    return rng.select(
        doc.alias("doc_id"),
        F.when(is_dup, parent).alias("parent_id"),
        text.alias("text"),
    )


def planted_pairs(corpus: DataFrame) -> DataFrame:
    """(id_a, id_b) ground-truth near-dup pairs; id_a = parent < id_b."""
    return (
        corpus.filter(F.col("parent_id").isNotNull())
        .select(F.col("parent_id").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
