"""Round-7 optimization harness: per-stage isolation of the expensive
sketch queries (guide §1.4 noop-sink timing, §1.5 job labels), plus
row counts of every intermediate so candidate-volume claims in
OPTIMIZATION_r07.md are measured, not estimated.

NOT part of the frozen driver bench (bench.py). Usage, with
SPARK_GRAFT_SF_DIR naming a generated dataset directory:

    SPARK_GRAFT_SF_DIR=<dataset dir> python bench_extra.py minhash_r7
    SPARK_GRAFT_SF_DIR=<dataset dir> python bench_extra.py simhash_r7
    SPARK_GRAFT_SF_DIR=<dataset dir> python bench_extra.py headline
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fec_cn_support_etl_spark.session import get_spark  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    print(f"  {label:55s} {dt:8.2f}s" + (f"  -> {out}" if out is not None else ""), flush=True)
    return out, dt


def headline(spark, sf_dir, names=None):
    from fec_cn_support_etl_spark.plans import catalog

    import bench

    names = names or bench.HEADLINE
    res = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        _noop(catalog.QUERIES[name](spark, sf_dir))
        res[name] = round(time.time() - t0, 3)
        spark.catalog.clearCache()
        print(f"  {name:40s} {res[name]:8.2f}s", flush=True)
    print(json.dumps(res))


def minhash_r7(spark, sf_dir):
    """Stage isolation of the round-7 array-form minhash pipeline."""
    from fec_cn_support_etl_spark.operators import caching
    from fec_cn_support_etl_spark.operators.dedup import (
        char_shingle_sets,
        explode_shingle_sets,
        jaccard_verify_sets,
        minhash_lsh_pruned_pairs,
        minhash_signatures,
        with_sig_planes,
    )
    from fec_cn_support_etl_spark.sources.tpch import load_table, spread

    d = spread(load_table(spark, sf_dir, "documents"))
    sets = caching.cache(char_shingle_sets(d, "doc_id", "text"))
    timed(spark, "r7: shingle-set rows (materialize cache)", lambda: sets.count())
    sig = caching.cache(with_sig_planes(minhash_signatures(explode_shingle_sets(sets))))
    timed(spark, "r7: signatures (materialize cache)", lambda: sig.count())
    pruned = minhash_lsh_pruned_pairs(sig, bands=16)
    timed(spark, "r7: fused prune+distinct candidates", lambda: pruned.count())
    out = jaccard_verify_sets(pruned, sets)
    timed(spark, "r7: verify-sets output rows", lambda: out.count())
    timed(spark, "r7: FULL query (single plan, noop)", lambda: _noop(jaccard_verify_sets(minhash_lsh_pruned_pairs(sig, 16), sets)))
    caching.release_all()
    spark.catalog.clearCache()


def simhash_r7(spark, sf_dir):
    """Stage isolation of the round-7 array-form simhash pipeline."""
    from fec_cn_support_etl_spark.operators import caching
    from fec_cn_support_etl_spark.operators.dedup import (
        char_shingle_sets,
        explode_shingle_sets,
        jaccard_verify_sets,
        simhash_candidates_sym,
        simhash_from_hashes,
    )
    from fec_cn_support_etl_spark.sources.tpch import load_table, spread

    d = spread(load_table(spark, sf_dir, "documents"))
    sets = caching.cache(char_shingle_sets(d, "doc_id", "text"))
    timed(spark, "r7s: shingle-set rows (materialize cache)", lambda: sets.count())
    sims = caching.cache(simhash_from_hashes(explode_shingle_sets(sets).withColumnRenamed("sh", "th")))
    timed(spark, "r7s: simhash rows (materialize cache)", lambda: sims.count())
    raw = simhash_candidates_sym(sims, 4, max_hamming=None)
    timed(spark, "r7s: RAW probe pairs (no hamming filter, distinct)", lambda: raw.count())
    close = simhash_candidates_sym(sims, 4, max_hamming=11)
    timed(spark, "r7s: hamming<=11 distinct candidates", lambda: close.count())
    out = jaccard_verify_sets(close, sets)
    timed(spark, "r7s: verify-sets output rows", lambda: out.count())
    caching.release_all()
    spark.catalog.clearCache()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    which = sys.argv[1] if len(sys.argv) > 1 else "headline"
    print(f"== bench_extra {which} @ {sf_dir} ==", flush=True)
    fns = {
        "minhash_r7": minhash_r7,
        "simhash_r7": simhash_r7,
    }
    if which in fns:
        fns[which](spark, sf_dir)
    else:
        headline(spark, sf_dir, sys.argv[2:] or None)
    spark.stop()


if __name__ == "__main__":
    main()
