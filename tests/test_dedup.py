"""Dedup operators against brute-force Python oracles on constructed
near-duplicate corpora (the oracle the driver can't run in SQL)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fec_cn_support_etl_spark.operators import dedup as D
from sketch_oracle import band_pairs, hamming, py_shingles

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and aggregates the results "
    "into a compact columnar table for later analysis"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
        (3, BASE.replace("quick brown", "slow red").replace("compact", "wide")),  # nearish
        (4, "completely different text about cooking pasta with tomatoes and basil in a large pot"),
        (5, "yet another unrelated document mentioning databases indexes transactions and logs"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _py_jaccard(a: str, b: str) -> float:
    sa, sb = py_shingles(a), py_shingles(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(spark, docs):
    kept = D.exact_dedup(docs, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 2, 3, 4, 5]  # doc 1 collapses into 0 (min id wins)


def test_exact_dup_groups(spark, docs):
    groups = {r["canonical_id"]: r["n_copies"] for r in D.exact_dup_groups(docs, "text", "doc_id").collect()}
    assert groups[0] == 2
    assert sum(groups.values()) == 6


def test_minhash_exact_verify_matches_python_jaccard(spark, docs):
    """The exact-pair pipeline returns every pair with char-5 Jaccard
    >= 4/5, with its exact Jaccard: the duplicate, the one-word edit
    and its twin; not the 0.76 three-edit doc nor unrelated text."""
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.minhash_neardup_pairs(docs, 16).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    want = {}
    for a in texts:
        for b in texts:
            j = _py_jaccard(texts[a], texts[b])
            if a < b and j >= 0.8:
                want[(a, b)] = j
    assert set(want) == {(0, 1), (0, 2), (1, 2)}
    assert got.keys() == want.keys()
    for pair, j in want.items():
        assert got[pair] == pytest.approx(j, abs=1e-12)
    spark.catalog.clearCache()


def test_simhash_near_pairs(spark, docs):
    """Char-shingle SimHash (the catalog's tokens) through the symmetric
    probe: exactly the pairs within Hamming 11 of a Python popcount."""
    sims = D.simhash_from_hashes(
        D.explode_shingle_sets(D.char_shingle_sets(docs, "doc_id", "text")).withColumnRenamed("sh", "th")
    )
    by_id = {r["id"]: r["simhash"] for r in sims.collect()}
    assert by_id[0] == by_id[1]  # identical text -> identical simhash
    got = {(r["id_a"], r["id_b"]) for r in D.simhash_candidates_sym(sims, 4, max_hamming=11).collect()}
    want = {(a, b) for a in by_id for b in by_id if a < b and hamming(by_id[a], by_id[b]) <= 11}
    assert (0, 1) in got
    assert got == want
    # 4 chunks capture Hamming <= 11 with certainty, and no further
    with pytest.raises(AssertionError):
        D.simhash_candidates_sym(sims, 4, max_hamming=12)


def test_generated_corpus_planted_recall(spark):
    """corpus.gen_documents plants ground-truth near-dup pairs; the
    exact-pair pipeline (the catalog query's operator) must recover
    them all at 2k docs, find only high-Jaccard pairs, and any extras
    must share a planted parent (sibling dups are genuinely near-dups
    of each other)."""
    from fec_cn_support_etl_spark.corpus import gen_documents, planted_pairs

    corpus = gen_documents(spark, 2000).persist()
    pairs = D.minhash_neardup_pairs(corpus, 16).persist()

    planted = planted_pairs(corpus)
    n_planted = planted.count()
    assert n_planted == 200  # dup_fraction 0.1
    recalled = pairs.join(planted, ["id_a", "id_b"], "left_semi").count()
    assert recalled == n_planted, f"missed {n_planted - recalled} planted pairs"
    assert pairs.filter(F.col("jaccard") < 0.8).count() == 0
    # extras are sibling dups: both ids resolve to the same parent
    parent_of = corpus.select(
        "doc_id", F.coalesce("parent_id", "doc_id").alias("root")
    )
    extras = pairs.join(planted, ["id_a", "id_b"], "left_anti")
    bad = (
        extras.join(parent_of.withColumnRenamed("doc_id", "id_a").withColumnRenamed("root", "ra"), "id_a")
        .join(parent_of.withColumnRenamed("doc_id", "id_b").withColumnRenamed("root", "rb"), "id_b")
        .filter(F.col("ra") != F.col("rb"))
        .count()
    )
    assert bad == 0
    spark.catalog.clearCache()


def test_connected_components_shapes(spark):
    """Chain, triangle-ish, pair, and a longer path all resolve to
    min-id components; singleton-free (only ids appearing in pairs)."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (5, 6)] + [(i, i + 1) for i in range(30, 38)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["component"] for r in D.connected_components(pairs).collect()}
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 5: 5, 6: 5}
    want.update({i: 30 for i in range(30, 39)})  # 9-node path needs multiple rounds
    assert got == want


def test_neardup_clusters_on_generated_corpus(spark):
    """End-to-end dedup: pair finding + clustering on the planted
    corpus. Every doc's cluster is its planted root, and each cluster
    has exactly one canonical survivor."""
    from fec_cn_support_etl_spark.corpus import gen_documents

    corpus = gen_documents(spark, 1000).persist()
    pairs = D.minhash_neardup_pairs(corpus, 16).select("id_a", "id_b")
    clusters = D.neardup_clusters(pairs).persist()

    joined = clusters.join(corpus, "doc_id").withColumn(
        "root", F.coalesce("parent_id", "doc_id")
    )
    assert joined.filter(F.col("cluster_id") != F.col("root")).count() == 0
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n_canon")
    )
    assert per_cluster.filter(F.col("n_canon") != 1).count() == 0
    spark.catalog.clearCache()


def test_catalog_sweep_releases_sketch_caches(spark):
    """Two consecutive catalog sweeps must not accumulate cache blocks:
    building the NEXT query releases the previous query's registered
    sketch caches (operators/caching.py) — no reliance on the caller
    calling spark.catalog.clearCache().

    The assertion is DELTA-based against the shared session's context:
    earlier tests may leave localCheckpoint RDDs whose async
    ContextCleaner removal hasn't fired yet (they are persisted entries
    until the JVM weak refs clear), so an absolute ==0 check is racy.
    What this test owns is that the SWEEP adds nothing durable.
    """
    import gc
    import time

    from fec_cn_support_etl_spark.plans import catalog

    sf = "/root/testdata/sf0.001"
    jsc = spark.sparkContext._jsc.sc()

    def rdd_ids():
        m = jsc.getPersistentRDDs()
        it = m.keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = rdd_ids()
    for _ in range(2):
        catalog.QUERIES["minhash_neardup_pairs"](spark, sf).count()
        assert len(rdd_ids() - before) > 0  # the query did cache
        catalog.QUERIES["simhash_neardup_pairs"](spark, sf).count()
        # at most ONE query's caches alive at any point in the sweep
        catalog.QUERIES["dedup_exact_groups"](spark, sf).count()
    catalog.QUERIES["q1_pricing_summary"](spark, sf)  # plain query construction also releases
    for _ in range(10):  # absorb async ContextCleaner latency
        leaked = rdd_ids() - before
        if not leaked:
            break
        gc.collect()
        time.sleep(1)
    assert not leaked, f"sketch caches leaked across queries: rdd ids {leaked}"


def test_pruned_pairs_equivalence(spark):
    """The fused band-join prune emits exactly the pairs a Python brute
    force finds on sf0.01 (500 docs): the pair shares at least one band
    slice of the signature AND agrees in >= 22 of 48 positions — for
    both band geometries."""
    from fec_cn_support_etl_spark.sources.tpch import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    sig = D.with_sig_planes(
        D.minhash_signatures(D.explode_shingle_sets(D.char_shingle_sets(d, "doc_id", "text")))
    ).persist()
    try:
        sigs = {r["id"]: list(r["sig"]) for r in sig.select("id", "sig").collect()}
        assert D.MIN_AGREE == 22
        for bands in (16, 8):
            want = {
                (a, b)
                for a, b in band_pairs(sigs, bands)
                if sum(x == y for x, y in zip(sigs[a], sigs[b])) >= D.MIN_AGREE
            }
            got = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_pruned_pairs(sig, bands).collect()}
            assert got == want
            assert want  # non-vacuous
    finally:
        sig.unpersist()


def test_verify_sets_equivalence(spark):
    """char_shingle_sets + jaccard_verify_sets over ALL pairs of sf0.01
    (500 docs) equal a Python brute force on the raw texts: the same
    distinct shingle count per doc, the same pairs with Jaccard >= 4/5
    and the same Jaccard values."""
    from fec_cn_support_etl_spark.sources.tpch import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    py_sets = {i: py_shingles(t) for i, t in texts.items()}
    sets = D.char_shingle_sets(d, "doc_id", "text").persist()
    try:
        assert {r["id"]: r["n"] for r in sets.collect()} == {i: len(v) for i, v in py_sets.items()}
        assert D.explode_shingle_sets(sets).count() == sum(len(v) for v in py_sets.values())
        ids = sets.select(F.col("id").alias("id_a"))
        pairs = ids.crossJoin(ids.withColumnRenamed("id_a", "id_b")).filter("id_a < id_b")
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.jaccard_verify_sets(pairs, sets).collect()}
        want = {}
        for a in py_sets:
            for b in py_sets:
                if a < b:
                    inter = len(py_sets[a] & py_sets[b])
                    union = len(py_sets[a]) + len(py_sets[b]) - inter
                    if inter * 5 >= union * 4:
                        want[(a, b)] = inter / union
        assert got == want
        assert want  # non-vacuous
    finally:
        sets.unpersist()


@pytest.mark.parametrize("max_hamming", [10, 11])
def test_sym_candidates_match_brute_force(spark, max_hamming):
    """The symmetric 4x16-bit probe with a Hamming filter inside its
    certainty bound (<= 11) emits exactly the pairs within that Hamming
    distance, against Python popcount over all sf0.01 pairs."""
    from fec_cn_support_etl_spark.sources.tpch import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    sims = D.simhash_from_hashes(
        D.explode_shingle_sets(D.char_shingle_sets(d, "doc_id", "text")).withColumnRenamed("sh", "th")
    ).persist()
    try:
        by_id = {r["id"]: r["simhash"] for r in sims.collect()}
        want = {
            (a, b) for a in by_id for b in by_id if a < b and hamming(by_id[a], by_id[b]) <= max_hamming
        }
        got = {(r["id_a"], r["id_b"]) for r in D.simhash_candidates_sym(sims, 4, max_hamming).collect()}
        assert got == want
        assert want  # non-vacuous
    finally:
        sims.unpersist()


def test_cc_small_path_equivalence(spark):
    """Round-7 driver union-find fast path produces the identical
    (id, component) fixpoint as the distributed min-label loop, for
    long and string ids, and keeps the ids' type."""
    from fec_cn_support_etl_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (5, 99), (4, 99)]
    for pairs, want in (
        (spark.createDataFrame(edges, ["id_a", "id_b"]), {(23, 20), (99, 4), (3, 1)}),
        (
            spark.createDataFrame([(f"d{a:03d}", f"d{b:03d}") for a, b in edges], ["id_a", "id_b"]),
            {("d023", "d020"), ("d099", "d004"), ("d003", "d001")},
        ),
    ):
        small = connected_components(pairs, small_edge_limit=1_000_000)
        big = connected_components(pairs, small_edge_limit=0)
        assert small.schema["id"].dataType == pairs.schema["id_a"].dataType
        assert small.exceptAll(big).count() == 0
        assert big.exceptAll(small).count() == 0
        assert want <= {(r["id"], r["component"]) for r in small.collect()}
