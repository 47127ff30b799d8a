"""Deduplication operators for large-scale training-data pipelines.

All hot-path computation is JVM-side (``pyspark.sql.functions`` only:
substr/transform/xxhash64/explode/groupBy/self-join) so it survives
whole-stage codegen and scales by partitioning — no Python per row.

Operators, one per step:
- exact_dedup / exact_dup_groups: sha256-keyed exact dedup (the
  curation pipeline's dedup step) and its duplicate groups.
- char_shingle_sets / explode_shingle_sets: distinct k-char shingle
  hashes per doc as one array row, and its exploded (id, sh) view.
- minhash_signatures / with_sig_planes: seeded MinHash signatures via
  min(xxhash64(seed, sh)), plus their packed bit-planes.
- minhash_lsh_pruned_pairs: banded LSH candidate pairs with the
  signature-agreement prune fused into the band join.
- jaccard_verify_sets: exact Jaccard on candidate pairs.
- minhash_neardup_pairs: the exact-pair pipeline — the four steps
  above in order, with the geometry constants below.
- simhash_from_hashes: 64-bit SimHash from token hashes (the catalog
  feeds it char shingles); simhash_candidates_sym: near-dup candidates
  by symmetric single-bit multi-probe chunks + popcount Hamming filter.
- connected_components / neardup_clusters: near-dup clusters (eager:
  one count, and a bounded driver union-find below the edge gate).

Word-set Jaccard pairs are the catalog query ``word_jaccard_pairs``;
embedding-cosine pairs are ``similarity.cosine_neardup_blocked``.

Scale design (100 TB corpus): shingles are hashed to 8 bytes
immediately (never carry strings through the shuffle); the LSH
self-join keys on one band-hash long — a uniformly distributed key, so
no skew; verify runs only on candidate pairs (tiny vs corpus).
Signatures are O(k) ints per doc.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import caching
from .windows import top1_per_group

# Exact near-dup geometry, shared by the batch pipeline and the stream
# (streaming/neardup.py): char-5 shingles, 48 MinHash families, a band
# prune that keeps pairs whose signatures agree in at least
# ceil(0.45 * 48) = 22 positions, and an exact Jaccard verify at >= 4/5
# (integer cross-multiply, so a SQL oracle reproduces it bit-for-bit).
SHINGLE_K = 5
NUM_HASHES = 48
PRUNE = 0.45
VERIFY_FRAC = (4, 5)
MIN_AGREE = math.ceil(PRUNE * NUM_HASHES)
MAX_MISMATCH = NUM_HASHES - MIN_AGREE
assert NUM_HASHES <= 63, "bit-planes pack signature positions into one long"

# Gate 1 of the pruned band join: with a and b the two band rows, a
# pair with >= MIN_AGREE agreeing positions has at most MAX_MISMATCH
# set bits in the OR of its plane XORs (see minhash_lsh_pruned_pairs).
_GATE1_SQL = f"bit_count({' | '.join(f'(a.p{k} ^ b.p{k})' for k in range(4))}) <= {MAX_MISMATCH}"


# ---------------------------------------------------------------- exact

def exact_dup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Groups of exact duplicates: (digest, n_copies, canonical_id)."""
    return (
        df.select(F.sha2(F.col(content_col), 256).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("canonical_id"))
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct content (lowest id wins — total order)."""
    return top1_per_group(
        df.withColumn("__digest", F.sha2(F.col(content_col), 256)),
        keys=["__digest"],
        order=[F.asc(id_col)],
    ).drop("__digest")


# ------------------------------------------------------------- shingles

def char_shingle_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, ss: array<bigint>, n) — the distinct ``SHINGLE_K``-char
    shingles of each doc, pre-hashed to int64, as ONE array row per doc.

    Shingling via substr over a sequence of offsets, all JVM-side;
    strings shorter than k contribute their whole text as one shingle.

    Two consumers need shingles — the signature/simhash aggregate and
    the exact-Jaccard verify — and the verify needs per-doc arrays for
    ``array_intersect``. Caching the array form stores the same bytes
    in 50k rows instead of 10.26M exploded rows at sf1.0 (cache build
    3.4s -> 0.9s), feeds the verify join directly, and the aggregate
    consumers re-explode from the cached arrays (explode of an
    in-memory array column is pipeline-local — no extra scan, no
    shuffle).
    """
    k = SHINGLE_K
    shingle_arr = (
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> xxhash64(substr({text_col}, i, {k}))))"
    )
    return df.select(F.col(id_col).alias("id"), F.expr(f"{shingle_arr} AS ss")).withColumn(
        "n", F.size("ss")
    )


def explode_shingle_sets(sets: DataFrame) -> DataFrame:
    """(id, sh) — one row per shingle hash of :func:`char_shingle_sets`
    output."""
    return sets.select("id", F.explode("ss").alias("sh"))


# -------------------------------------------------------------- minhash

def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(id, sig: array<bigint>) — one min per seeded hash family.

    h_i(s) = xxhash64(i, s): ``NUM_HASHES`` independent families from
    the seed slot. Computed as k min() aggregates in ONE groupBy pass
    (map-side partial min => shuffle carries k ints per doc, not the
    shingles).
    """
    # built as SQL-text expressions: one py4j round trip for all k agg
    # columns instead of 3k Column-API calls — DataFrame construction
    # is driver-side latency paid per query execution, and the Column
    # API was measured at ~1.4s of pure py4j chatter for k=48
    mins = [F.expr(f"min(xxhash64({i}, sh)) AS h{i}") for i in range(NUM_HASHES)]
    agg = shingles.groupBy("id").agg(*mins)
    sig = F.expr("array(" + ", ".join(f"h{i}" for i in range(NUM_HASHES)) + ") AS sig")
    return agg.select("id", sig)


def with_sig_planes(signatures: DataFrame) -> DataFrame:
    """(id, sig, p0..p7) — signatures with their 8 bit-planes
    materialized as plain columns: bit i of plane k = bit k of sig[i]
    (read by the gates of :func:`minhash_lsh_pruned_pairs`).

    Round-7 finding: when the 48-term plane expressions are left to be
    computed in the band-join stage, whole-stage codegen fuses them into
    the join's generated method — the method blows past JIT limits and
    the 186M-row collision loop runs ~2x SLOWER than interpreted
    (measured 6.7s codegen vs 3.3s with codegen disabled at sf1.0).
    Materializing the planes into the CACHED signature table keeps the
    join stage's generated code tiny (column reads + bit_count), which
    is the fix at the plan level rather than a config override. Cost:
    8 extra longs per doc in the cache — linear, negligible."""
    planes = [
        "("
        + " | ".join(f"shiftleft(shiftright(sig[{i}], {k}) & 1, {i})" for i in range(NUM_HASHES))
        + f") AS p{k}"
        for k in range(8)
    ]
    return signatures.select("id", "sig", *[F.expr(p) for p in planes])


def _band_table(signatures: DataFrame, bands: int) -> DataFrame:
    """(id, p0..p3, bh) — one hashed band row per (doc, band), carrying
    the gate-1 planes.

    ``bh = xxhash64(band_idx, band_slice)`` already mixes the band index
    into the hash, so the band self-join keys on the SINGLE long ``bh``
    (round 7): Spark builds the specialized ``LongHashedRelation`` for
    one-long-key joins — measurably faster probes than the generic
    2-column relation a (band, bh) key forces. Cross-band xxhash64
    collisions can only ADD candidate pairs (~n²·2⁻⁶⁴ expected — none
    at any real scale), and every consumer checks exact agreement and
    exact Jaccard, so the final pair set is unchanged even if one
    occurred."""
    bands_col = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(b, F.slice(F.col("sig"), b * (F.size("sig") / bands).cast("int") + 1, (F.size("sig") / bands).cast("int")).cast("string")),
    )
    return signatures.select("id", "p0", "p1", "p2", "p3", F.explode(bands_col).alias("bh"))


def _pruned_band_join(
    left: DataFrame, right: DataFrame, bands: int, id_cond: str, id_a: Column, id_b: Column
) -> DataFrame:
    """The three-gate pruned band join of :func:`minhash_lsh_pruned_pairs`:
    distinct (id_a, id_b) of ``left`` x ``right`` band collisions whose
    signatures agree in >= ``MIN_AGREE`` positions. ``left`` and
    ``right`` are :func:`with_sig_planes` tables and ``right`` holds
    every id of ``left``. Each caller passes its gate-1 id predicate
    ``id_cond`` over aliases ``a``/``b`` and the ``id_a``/``id_b``
    projection: the batch self-join keeps ``a.id < b.id``, the stream's
    new x store join keeps ``a.id != b.id`` and orders with
    least/greatest.

    Gate 2 — planes 4-7 re-attached from the doc-level plane table
    (docs x 5 longs, broadcast) and tested on gate-1 survivors only.
    Escape probability for a mismatching position falls to 2^-8 across
    the two gates, cutting the leak ~8x (7.89M -> 0.99M at sf1.0)
    BEFORE the expensive exact count. Two narrow-row broadcast joins on
    7.89M rows are far cheaper than widening the gate-1 join residual
    or running zip_with at 7.89M.

    Gate 3 — exact positional agreement on the double-plane survivors,
    BEFORE the distinct, by re-attaching the two signatures. At fixture
    scale the signature table (docs x 48 longs) broadcasts, so all
    gates and the final filter are one map-side pipeline and the only
    exchange carrying pair rows is the distinct over exact survivors
    (~0.3% of collisions). At 100 TB the re-joins degrade to shuffle
    joins of the plane-pruned candidates. Prune-then-distinct ==
    distinct-then-prune (agreement is a pure function of the pair).
    The agreement count uses zip_with/filter/size — measured 6.5x
    faster at sf0.1 than an unrolled 48-term array-index IF chain,
    whose 96 GetArrayItem expressions degrade the generated code."""
    bt = _band_table(right, bands)
    # a self-join aliases one band table twice
    a, b = (bt if left is right else _band_table(left, bands)).alias("a"), bt.alias("b")
    cand = a.join(b, on=[F.col("a.bh") == F.col("b.bh"), F.expr(f"{id_cond} AND {_GATE1_SQL}")]).select(
        id_a.alias("id_a"), id_b.alias("id_b")
    )
    pl = right.select("id", "p4", "p5", "p6", "p7")
    pa = pl.select(F.col("id").alias("id_a"), *[F.col(f"p{k}").alias(f"qa{k}") for k in range(4, 8)])
    pb = pl.select(F.col("id").alias("id_b"), *[F.col(f"p{k}").alias(f"qb{k}") for k in range(4, 8)])
    gate2_or = " | ".join(f"(qa{k} ^ qb{k})" for k in range(4, 8))
    cand = (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .filter(F.expr(f"bit_count({gate2_or}) <= {MAX_MISMATCH}"))
        .select("id_a", "id_b")
    )
    sa = right.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = right.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.expr(
        f"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) >= {MIN_AGREE}"
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(agree)
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pruned_pairs(signatures: DataFrame, bands: int) -> DataFrame:
    """Distinct (id_a < id_b) pairs that collide in at least one of
    ``bands`` LSH bands AND whose signatures agree in >= ``MIN_AGREE``
    of ``NUM_HASHES`` positions. ``signatures`` is a
    :func:`with_sig_planes` table. Pinned against a Python brute force
    by tests/test_dedup.py::test_pruned_pairs_equivalence.

    Why the prune lives inside the band join (round-7 measurement,
    sf1.0 = 50k docs): the raw band join yields 195.6M collision rows
    and 178.0M DISTINCT candidate pairs; shuffling those for a distinct
    and two signature joins cost ~150 s. Here agreement gates run in
    the join stage and after it, and only the ~0.3% of collision rows
    that survive reach the ``distinct`` exchange.

    Three-gate prune, every gate a CERTAIN necessary condition for
    agree >= MIN_AGREE — no gate can drop a pair the exact test keeps,
    and gate 3 is the exact count.

    Gate 1 — band join with a zero-allocation bit-plane prune
    (``_GATE1_SQL``). A MATCHING position contributes identical bits to
    every plane, so detected := bit_count(OR_k (a.p_k XOR b.p_k)) <=
    #mismatches, and agree >= MIN_AGREE implies detected <=
    MAX_MISMATCH. A MISMATCHING position slips past 4 planes with
    probability 2^-4, so the 186M collision rows die in-stage to 7.89M
    (sf1.0). 4 planes is the measured sweet spot: widening the JOIN
    residual to 8 planes pushed the generated join code past what
    codegen handles well (9.7s -> 24.4s for the count), while fewer
    planes leak quadratically more rows. The residual is ordered
    cheap-first: ``a.id < b.id`` short-circuits before the plane test
    (SQL AND evaluates left to right). Gates 2-3:
    :func:`_pruned_band_join`.
    """
    return _pruned_band_join(signatures, signatures, bands, "a.id < b.id", F.col("a.id"), F.col("b.id"))


def jaccard_verify_sets(pairs: DataFrame, sets: DataFrame) -> DataFrame:
    """(id_a, id_b, jaccard) — exact Jaccard of candidate pairs against
    a per-doc shingle-SET table (:func:`char_shingle_sets` output),
    keeping pairs with jaccard >= num/den for ``VERIFY_FRAC = (num,
    den)``.

    |A∩B| is one JVM ``array_intersect`` per pair row; |A∪B| =
    |A|+|B|-|A∩B|. The filter is the integer cross-multiply
    ``inter*den >= union*num`` — boundary-exact, so an external SQL
    oracle reproduces the row set bit-for-bit. The pairs stream
    straight into the two set joins (broadcast at fixture scale) and
    are consumed ONCE. Shuffle volume is |pairs| x 2 set-arrays, so cap
    candidate volume upstream (that is what the sketch stages are for).
    """
    num, den = VERIFY_FRAC
    out = (
        pairs.join(sets.select(F.col("id").alias("id_a"), F.col("ss").alias("ss_a"), F.col("n").alias("na")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("ss").alias("ss_b"), F.col("n").alias("nb")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("ss_a", "ss_b")))
    )
    union = F.col("na") + F.col("nb") - F.col("inter")
    out = out.filter(F.col("inter") * den >= union * num)
    out = out.withColumn("jaccard", F.col("inter") / union)
    return out.select("id_a", "id_b", "jaccard")


def minhash_neardup_pairs(docs: DataFrame, bands: int) -> DataFrame:
    """(id_a, id_b, jaccard) — the exact near-dup pairs of ``docs``
    (doc_id, text): char-5 shingle sets -> 48-hash signatures with
    bit-planes -> ``bands``-band LSH with the fused agreement prune ->
    exact Jaccard >= 4/5.

    With 16 bands (3 hashes each) the output is the exact >= 0.8 pair
    set on the fixtures: a band miss at the true-pair floor (j >= 0.83)
    is P = (1-j^3)^16 ~ 1e-6 per pair, and the 0.45 prune sits 7 sigma
    below a true pair's expected 0.83 agreement. With 8 bands (6 hashes
    each) background collisions drop ~70x and recall becomes
    estimate-grade (~0.91 at j = 0.8); precision stays 1.0.

    Both intermediates are cached (registered with operators/caching.py
    and released on the next catalog-query construction): the shingle
    sets feed the signature aggregate and the verify, and the
    signature table (docs x 48 longs + planes) feeds both sides of the
    band self-join and the gate re-joins. The planes are materialized
    INTO that cache — see :func:`with_sig_planes`.
    """
    sets = caching.cache(char_shingle_sets(docs, "doc_id", "text"))
    sig = caching.cache(with_sig_planes(minhash_signatures(explode_shingle_sets(sets))))
    return jaccard_verify_sets(minhash_lsh_pruned_pairs(sig, bands), sets)


# -------------------------------------------------------------- simhash

_SIMHASH_LANE = 21  # bit-count sums per lane; 3 lanes fit a signed int64


def simhash_from_hashes(toks: DataFrame, bits: int = 64) -> DataFrame:
    """(id, simhash: bigint) from pre-hashed tokens (id, th: bigint).

    Majority vote per bit: bit i is set iff more than half the tokens
    have it set (2*S_i > n, identical to the classic +1/-1 vote sum).
    The shuffle carries PACKED partial sums — three 21-bit lanes per
    aggregate column (ceil(bits/3)+1 longs per doc instead of ``bits``)
    — cutting agg/shuffle width ~3x. Lane capacity bounds tokens at
    2^21-1 (~2M) per document, far above any real document.

    Token choice is the caller's; the catalog's SimHash feeds char
    shingles (``explode_shingle_sets`` renamed to ``th``), aligned with
    MinHash.
    """
    # Both the packed-lane aggregate and the 64-bit majority
    # reconstruction are built as SQL text (one F.expr each): the
    # Column-API form made ~400 py4j round trips and cost ~5s of
    # DRIVER time per query construction — more than the job itself
    # at fixture scale. Same Catalyst tree either way.
    per_col = 3
    packed_cols = []
    for c in range(0, bits, per_col):
        terms = [
            f"shiftleft(shiftright(th, {i}) & 1, {lane * _SIMHASH_LANE})"
            for lane, i in enumerate(range(c, min(c + per_col, bits)))
        ]
        packed_cols.append(F.expr(f"sum({' + '.join(terms)}) AS p{c // per_col}"))
    agg = toks.groupBy("id").agg(F.expr("count(*) AS __n"), *packed_cols)
    mask = (1 << _SIMHASH_LANE) - 1
    bit_terms = []
    for i in range(bits):
        s_i = f"(shiftright(p{i // per_col}, {(i % per_col) * _SIMHASH_LANE}) & {mask})"
        bit_terms.append(f"shiftleft(CAST({s_i} * 2 > __n AS LONG), {i})")
    packed = F.expr(" | ".join(bit_terms) + " AS simhash")
    return agg.select("id", packed)


def simhash_candidates_sym(
    sims: DataFrame, chunks: int = 4, max_hamming: int | None = 11
) -> DataFrame:
    """Symmetric single-bit multi-probe pigeonhole candidates — the
    round-7 geometry for ``max_hamming <= 3*chunks - 1``.

    Both sides emit, per chunk, the exact chunk value plus every
    single-bit flip (width+1 rows/doc/chunk). Two rows meet iff their
    chunk values differ by the XOR of the two applied flips, i.e. any
    pair with PER-CHUNK Hamming distance <= 2 collides in that chunk
    WITH CERTAINTY; by pigeonhole a pair with total Hamming
    <= 3*chunks - 1 has some chunk at distance <= 2 — so 4 chunks of 16
    bits cover Hamming <= 11 with certainty, and with ``max_hamming``
    within that bound (asserted) the output is EXACTLY the set of pairs
    within ``max_hamming`` (pinned against a Python brute force by
    tests/test_dedup.py::test_sym_candidates_match_brute_force).
    ``max_hamming=None`` returns the raw distinct candidates.

    Why this geometry (measured at sf1.0, 50k docs): collision volume
    scales with bucket occupancy squared, and 16-bit chunk values
    spread 50k docs ~32x thinner than the 11-bit chunks of a 6-chunk
    radius-1 asymmetric probe with the same bound — raw collision rows
    fall 196M -> ~22M, pre-hamming — while emitted rows/doc only go
    70 -> 68 (4 chunks x 17 vs 6 x ~12.7). The join key packs (chunk, flipped
    value) into ONE long (chunk << width | cv — exact, no collisions),
    so the broadcast side builds the specialized LongHashedRelation.
    """
    base, rem = divmod(64, chunks)
    assert rem == 0, "sym probe wants equal chunk widths (64 % chunks == 0)"
    assert max_hamming is None or max_hamming <= 3 * chunks - 1, (
        f"capture is certain only up to Hamming {3 * chunks - 1} with {chunks} chunks"
    )
    width = base

    def rows_sql():
        # per chunk: exact value + every single-bit flip, each packed
        # with the chunk index into one long key
        terms = []
        for c in range(chunks):
            cv = f"(shiftright(simhash, {c * width}) & {(1 << width) - 1})"
            for flip in [0, *(1 << j for j in range(width))]:
                terms.append(f"({c * (1 << width)} + ({cv} ^ {flip}))")
        return f"explode(array({', '.join(terms)})) AS ck"

    rows = sims.select("id", "simhash", F.expr(rows_sql()))
    a, b = rows.alias("a"), rows.alias("b")
    cand = a.join(
        b, on=[F.col("a.ck") == F.col("b.ck"), F.col("a.id") < F.col("b.id")]
    ).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("a.simhash").alias("sa"), F.col("b.simhash").alias("sb")
    )
    if max_hamming is not None:
        cand = cand.filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= max_hamming)
    return cand.select("id_a", "id_b").distinct()


# ------------------------------------------- near-dup clusters (components)

# Driver-side cost of the union-find fast path per edge: Python peak
# (tracemalloc) over collecting the pairs, building the parent dict and
# the output rows, on disjoint pairs (two new nodes per edge, the dict's
# worst case): 485-492 B per edge for long ids, 509 B for 16-char
# string ids, 407 B on a chain. The collected rows also sit once in the
# driver JVM as 2-column rows. The gate keeps the Python side under
# UF_DRIVER_BYTES.
UF_EDGE_BYTES = 512
UF_DRIVER_BYTES = 64 << 20


def connected_components(
    pairs: DataFrame, max_iter: int = 25, small_edge_limit: int = UF_DRIVER_BYTES // UF_EDGE_BYTES
) -> DataFrame:
    """(id, component) for every id in ``pairs`` — component = MIN id
    reachable in the near-dup graph. The training-data dedup step after
    pair finding: pairs alone don't dedup a corpus; clusters pick one
    canonical survivor per group (min id). The ids keep the type of
    ``pairs.id_a``.

    EAGER: this call runs jobs before it returns. ``pairs`` (usually the
    whole expensive sketch pipeline) is persisted and counted ONCE up
    front — Spark does no common-subexpression elimination across the
    branches of the doubled edge list ``pairs UNION swap(pairs)``, so an
    uncached pair pipeline would execute twice. The count gates a
    small-graph fast path: at most ``small_edge_limit`` edges (default
    131,072 = ``UF_DRIVER_BYTES`` / ``UF_EDGE_BYTES``, ~64 MB of driver
    Python heap) are collected to the driver, where a union-find with
    min-id labels produces the identical fixpoint in ONE job instead of
    2 jobs per propagation round — the measured cost of the distributed
    loop at fixture scale was ~5.5s of pure driver/job-scheduling
    overhead on a 512-edge graph. Near-dup pair sets are tiny relative
    to the corpus (0.3% dup rate at the fixture). Path equality, for
    long and string ids, is pinned by
    tests/test_dedup.py::test_cc_small_path_equivalence.

    Distributed path (above the gate — the 100 TB shape): iterative
    min-label propagation with pointer halving — each round every node
    takes the min of its own label, its neighbors' labels, and its
    label's label (path compression), so convergence is O(log diameter)
    rounds; near-dup graphs (tiny cliques/chains) converge in 2-3. Each
    round is localCheckpoint-ed: iterative DataFrame loops otherwise
    nest the previous round's plan inside the next and the lineage
    grows until the driver chokes — checkpointing truncates it, keeping
    every round O(1) plan size. The loop stops when a round changes
    nothing; ``max_iter`` bounds adversarial chains.
    """
    pairs = caching.cache(pairs.select("id_a", "id_b"))
    n_pairs = pairs.count()
    if n_pairs <= small_edge_limit:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs.collect():
            a, b = r["id_a"], r["id_b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id so the root IS the component label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        id_type = pairs.schema["id_a"].dataType
        schema = T.StructType([T.StructField("id", id_type), T.StructField("component", id_type)])
        return pairs.sparkSession.createDataFrame(rows, schema)

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).persist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    try:
        for _ in range(max_iter):
            # min label among self + neighbors (one shuffle) ...
            nbr_min = (
                edges.join(labels.withColumnRenamed("id", "dst"), "dst")
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
                .withColumnRenamed("src", "id")
            )
            stepped = labels.join(nbr_min, "id", "left").select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))).alias("component"),
            )
            # ... then pointer halving: component <- component's component
            # (every label value is itself a node id, so the join is total)
            grand = stepped.select(F.col("id").alias("component"), F.col("component").alias("grand"))
            new_labels = (
                stepped.join(grand, "component")
                .select("id", F.least(F.col("component"), F.col("grand")).alias("component"))
                .localCheckpoint()
            )
            changed = (
                new_labels.withColumnRenamed("component", "new_component")
                .join(labels, "id")
                .filter(F.col("new_component") != F.col("component"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        return labels
    finally:
        edges.unpersist()


def neardup_clusters(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) for every doc appearing in a
    near-dup pair: cluster_id = min doc id in the connected component,
    is_canonical marks the one survivor a dedup pass would keep.
    EAGER: runs :func:`connected_components`' count, and on a small
    graph its bounded driver collect, before it returns."""
    cc = connected_components(pairs)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )
