"""Streaming incremental near-duplicate detection.

The training-data shape: documents arrive continuously (crawl batches)
and every incoming doc must be checked against EVERYTHING already
ingested — without ever re-running all-pairs. Each micro-batch:

  1. MinHash-sign the new docs (the same char-5-shingle / 48-hash
     geometry as the batch pipeline, operators/dedup.py);
  2. append (doc, signature) to the accumulated store — written to a
     ``batch={id}`` subdirectory with overwrite, so a re-delivered
     micro-batch after a crash rewrites the same directory instead of
     duplicating rows (idempotent, the same manifest discipline as the
     CDC engine);
  3. LSH-join the NEW band table against the FULL store's band table —
     a pair is examined exactly once, in the micro-batch of its later
     member (new x {old ∪ new}; old x old pairs are never regenerated);
  4. prune the candidates with the batch pipeline's signature-agreement
     gates, then exact-Jaccard-verify the survivors against shingle
     sets recomputed from the stored texts;
  5. emit verified pairs to ``pairs/batch={id}`` (same idempotent
     overwrite).

Because signatures, band hashes, the prune, and the exact verify are
all per-doc/per-pair deterministic, the UNION of all emissions is
BIT-IDENTICAL to the batch pipeline's output on the same corpus — so
the same brute-force ANSI-SQL oracle checks the streaming path
(catalog: stream_neardup_pairs).

Scale notes: per batch, the store grows by one signature row per doc
(48 longs); the band join is new-batch x store on a uniform hash key
(skew-free, broadcast-able new side); the exact verify recomputes
shingle sets from the stored texts. At 100 TB you would keep the store in
a bucketed lake table (cdc/table.py) with periodic compaction and put
a bloom filter of band hashes in front of the join; the dataflow here
is unchanged by that swap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import (
    _pruned_band_join,
    char_shingle_sets,
    explode_shingle_sets,
    jaccard_verify_sets,
    minhash_signatures,
    with_sig_planes,
)
from .pipeline import read_file_stream

_PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
)


def stream_neardup_pairs(
    spark: SparkSession,
    docs_path: str,
    work_dir: str,
    max_files_per_trigger: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Run the incremental near-dup stream over ``docs_path`` to
    completion (availableNow) and return every emitted pair — equal to
    the batch pipeline's exact >= threshold pair set on the same docs."""
    store = os.path.join(work_dir, "store")
    pairs_dir = os.path.join(work_dir, "pairs")
    checkpoint = os.path.join(work_dir, "checkpoint")
    # the guarantee-grade band geometry of the batch query
    # minhash_neardup_pairs (16 bands x 3 hashes)
    bands = 16

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..sources.tpch import spread

        # a micro-batch arrives with one partition per input file — the
        # shingle hashing + 48-min signature aggregate would serialize
        # on those few cores (measured 6.4s of the 17s batch at sf0.1);
        # spread is a no-op once batches carry >= parallelism splits
        new = spread(
            batch_df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        ).persist()
        sig_new = minhash_signatures(explode_shingle_sets(char_shingle_sets(new, "doc_id", "text")))
        (
            new.join(sig_new.withColumnRenamed("id", "doc_id"), "doc_id")
            .write.mode("overwrite")
            .parquet(os.path.join(store, f"batch={batch_id}"))
        )
        # the store INCLUDES this batch, so new-new pairs surface here too
        all_store = spark.read.parquet(store).drop("batch")
        # the batch pipeline's three-gate prune (operators/dedup.py::
        # minhash_lsh_pruned_pairs) over new x store, which needs !=
        # plus least/greatest instead of the batch self-join's a.id < b.id
        sig_all = with_sig_planes(all_store.select(F.col("doc_id").alias("id"), "sig")).persist()
        pruned = _pruned_band_join(
            sig_all.join(sig_new.select("id"), "id", "left_semi"),
            sig_all,
            bands,
            "a.id != b.id",
            F.least("a.id", "b.id"),
            F.greatest("a.id", "b.id"),
        )
        sets_all = char_shingle_sets(all_store, "doc_id", "text")
        out = jaccard_verify_sets(pruned, sets_all)
        out.write.mode("overwrite").parquet(os.path.join(pairs_dir, f"batch={batch_id}"))
        new.unpersist()
        sig_all.unpersist()
        spark.catalog.clearCache()

    q = (
        read_file_stream(spark, docs_path, max_files_per_trigger)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(pairs_dir):
        return spark.createDataFrame([], _PAIRS_SCHEMA)
    return spark.read.parquet(pairs_dir).drop("batch").select("id_a", "id_b", "jaccard")
