"""Similarity search over an embedding column (array<float>).

Two paths, per the scale playbook:
- brute_force_topk: exact cosine top-k of every query against the
  corpus. Dot products run JVM-side (zip_with + aggregate) inside
  codegen; queries are broadcast. Baseline / ground truth.
- lsh_bucketed_topk: random-hyperplane LSH over ``int_planes`` —
  small-INTEGER-entry hyperplanes applied as a pure Column expression
  (codegen, no Python). Integer entries make every dot product exactly
  representable in IEEE double (float32 mantissa 24 bits + |entry| <= 4
  + 64 terms < 53 bits), so the sum is order-independent and an
  external SQL engine reproduces the buckets bit-for-bit — this is what
  lets the driver oracle-check the LSH path. ``multiprobe=r``
  additionally probes every bucket within Hamming distance r of the
  query's bucket (r * bits extra buckets), trading candidate-set size
  for recall at high ``bits``.

At 100 TB the corpus side is partitioned; the broadcast-query pattern
means NO shuffle of the corpus at all for brute force, and the LSH
variant shuffles only (bucket, id, vec) once to co-locate buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import topk_per_group


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(v):
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_col(a, b):
    """Cosine similarity of two array columns as a Column expression."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk_order(rank_scale: float | None):
    """Top-k ordering for scored candidates. ``rank_scale`` ranks by the
    quantized cosine floor(cosine * scale) with an id tiebreak, so
    k-boundary membership and rank order are insensitive to sub-1/scale
    float differences (e.g. another engine summing the dot product in a
    different order — a MULTIPLY, so an external SQL twin evaluating
    floor(cos * scale) gets the bit-identical key); None ranks by the
    raw cosine."""
    if rank_scale is None:
        return [F.desc("cosine"), F.asc("id")]
    return [F.desc(F.floor(F.col("cosine") * F.lit(float(rank_scale)))), F.asc("id")]


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
    rank_scale: float | None = None,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast(queries) x corpus.

    Result: (query_id, id, cosine) — k rows per query, cosine desc,
    id asc tiebreak (total order => deterministic). ``rank_scale``
    quantizes the ordering key (see _topk_order).
    """
    q = F.broadcast(queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")))
    scored = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).crossJoin(q).select(
        "query_id", "id", cosine_col(F.col("qv"), F.col("v")).alias("cosine")
    )
    return topk_per_group(scored, ["query_id"], _topk_order(rank_scale), k)


def int_planes(dim: int, bits: int, seed: int = 42, lo: int = -3, hi: int = 3):
    """Deterministic hyperplanes with small integer entries (numpy list
    of lists, one inner list of ``dim`` ints per bit). Integer entries
    keep dot products FP-exact (see module docstring), so the same
    literals embedded in an ANSI-SQL oracle yield identical buckets."""
    rs = np.random.RandomState(seed)
    return rs.randint(lo, hi + 1, size=(bits, dim)).tolist()


def _dot_sql(vec_sql: str, lits: list[float]) -> str:
    """SQL text for the FP-exact left-fold dot product the Column-API
    form used to build: aggregate(zip_with(cast-to-double vec, literal
    array, *), 0.0, +). Identical Catalyst tree, ONE py4j round trip —
    the Column-API loop over dim=64 literals per plane/centroid cost
    seconds of driver time per query construction (same finding as the
    dedup sketch builders, round 5)."""
    arr = ", ".join(f"{float(p)!r}D" for p in lits)
    return (
        f"aggregate(zip_with(transform({vec_sql}, x -> CAST(x AS DOUBLE)), "
        f"array({arr}), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def hyperplane_bucket_expr(vec_sql: str, planes) -> "F.Column":
    """Bucket id as a pure Column expression: bit b = (v . plane_b) > 0,
    bucket = sum(bit_b << b). All JVM-side (zip_with/aggregate inside
    codegen) — no Python, no shuffle. ``vec_sql`` is the vector
    column's SQL text (e.g. "v")."""
    terms = " + ".join(
        f"IF({_dot_sql(vec_sql, plane)} > 0, {1 << b}, 0)" for b, plane in enumerate(planes)
    )
    return F.expr(f"CAST(({terms}) AS INT)")


def _probe_masks(bits: int, radius: int) -> list[int]:
    """All XOR masks of Hamming weight <= radius (radius 0 or 1 here;
    higher radii compose combinatorially)."""
    masks = [0]
    if radius >= 1:
        masks += [1 << b for b in range(bits)]
    if radius >= 2:
        masks += [(1 << i) | (1 << j) for i in range(bits) for j in range(i + 1, bits)]
    return masks


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    planes,
    k: int = 10,
    multiprobe: int = 0,
    rank_scale: float | None = None,
) -> DataFrame:
    """Approximate cosine top-k: compare only within matching
    hyperplane-LSH buckets. Recall < 1; cost ~ (1+multiprobe*bits)/2^bits
    of brute force, with ``bits = len(planes)``.

    ``planes`` (from ``int_planes``) bucket through the FP-exact Column
    expression (see module docstring). ``multiprobe=r`` probes all
    buckets within Hamming-r of the query bucket — recovers recall lost
    to quantization at high ``bits`` without touching the corpus side
    (queries are the exploded side).
    """
    bits = len(planes)
    c_bucket = hyperplane_bucket_expr("v", planes)
    q_bucket = hyperplane_bucket_expr("qv", planes)
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).withColumn("bucket", c_bucket)
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")).withColumn(
        "bucket", q_bucket
    )
    if multiprobe > 0:
        masks = _probe_masks(bits, multiprobe)
        q = q.withColumn(
            "bucket", F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]))
        )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id", "id", cosine_col(F.col("qv"), F.col("v")).alias("cosine")
    )
    return topk_per_group(scored, ["query_id"], _topk_order(rank_scale), k)


def int_centroids(dim: int, k: int, seed: int = 11, lo: int = -2, hi: int = 2):
    """Deterministic IVF centroids with small integer entries (list of
    k lists). Integer entries keep (x - c) exactly representable, so
    the squared-distance fold is reproducible term-for-term by an
    ANSI-SQL oracle evaluating the same literals in the same order.
    A production deployment would train these with sampled k-means;
    seeded integer centroids keep the partitioning deterministic and
    engine-portable, which is what the correctness gate needs."""
    rs = np.random.RandomState(seed)
    return rs.randint(lo, hi + 1, size=(k, dim)).tolist()


def _centroid_dists_sql(vec_sql: str, centroids) -> list[str]:
    """SQL text per centroid: (squared-distance, centroid-id) structs —
    sequential left-to-right fold like the SQL twin (see _dot_sql for
    why text, not Column API)."""
    out = []
    for i, c in enumerate(centroids):
        arr = ", ".join(f"{float(x)!r}D" for x in c)
        d = (
            f"aggregate(zip_with(transform({vec_sql}, x -> CAST(x AS DOUBLE)), "
            f"array({arr}), (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
        )
        out.append(f"named_struct('d', {d}, 'i', {i})")
    return out


def ivf_cell_expr(vec_sql: str, centroids):
    """Nearest-centroid cell id (argmin squared distance, lowest id on
    ties) as a pure Column expression."""
    return F.expr(f"least({', '.join(_centroid_dists_sql(vec_sql, centroids))}).i")


def ivf_probe_cells_expr(vec_sql: str, centroids, nprobe: int):
    """The ``nprobe`` nearest centroid ids, ascending by distance
    (struct array_sort: lexicographic on (d, i))."""
    arr = ", ".join(_centroid_dists_sql(vec_sql, centroids))
    return F.expr(f"transform(slice(array_sort(array({arr})), 1, {nprobe}), s -> s.i)")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    centroids,
    k: int = 10,
    nprobe: int = 2,
    rank_scale: float | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus rows live in their nearest-centroid
    cell; each query scans only its ``nprobe`` nearest cells.

    Scale shape: the corpus is assigned once (pure expression, no
    shuffle — or pre-materialized partitioned BY cell for repeated
    query batches); queries are the small exploded side (x nprobe) and
    broadcast, so the corpus never shuffles. Cost ~ nprobe/k_cells of
    brute force; recall grows monotonically with nprobe (nprobe =
    n_centroids is exact brute force).
    """
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).withColumn(
        "cell", ivf_cell_expr("v", centroids)
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")).withColumn(
        "cell", F.explode(ivf_probe_cells_expr("qv", centroids, nprobe))
    )
    scored = c.join(F.broadcast(q), "cell").select(
        "query_id", "id", cosine_col(F.col("qv"), F.col("v")).alias("cosine")
    )
    return topk_per_group(scored, ["query_id"], _topk_order(rank_scale), k)


def _cos_micro(a, b):
    """Cosine quantized to integer micro-units: floor(cos * 1e6) — the
    same quantizer as the ANN rank keys (_qcos rationale in
    plans/catalog.py): thresholds and emitted values are insensitive to
    sub-1e-6 float divergence between engines."""
    return F.floor(cosine_col(a, b) * F.lit(1_000_000.0)).cast("long")


def cosine_neardup_blocked(
    df: DataFrame, id_col: str, vec_col: str, threshold_micro: int
) -> DataFrame:
    """Exact all-pairs cosine membership pairs (id_a < id_b with
    floor(cos * 1e6) >= threshold_micro) via per-partition numpy
    block-matmul (guide §4.2: hand whole Arrow batches to vectorized
    native code).

    A SQL self-join would evaluate an interpreted 192-term HOF fold per
    PAIR — 384M lambda evaluations at sf0.1 (2,000 vectors -> 2M
    pairs); here each partition runs ONE BLAS matmul of its rows against
    the broadcast corpus matrix (n_vecs x dim doubles — the exact path's
    inherent working set; the driver-side collect is bounded by it and
    documented, like the k-means centroid collect). Each unordered pair
    is emitted exactly once, from its lower-id row's partition.

    Membership is decided on floor(cos * 1e6), so summation-order
    jitter (~1e-16) matters only for a pair within one micro-unit of
    the threshold; at sf0.1 (915 pairs at 400200) the nearest pair on
    either side sits 89 micro-units from it, which is also why the
    DuckDB oracle's ``list_cosine_similarity`` agrees. The pair set
    equals a numpy brute force over all pairs
    (tests/test_similarity.py::test_blocked_matches_exact).
    """
    sdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    rows = sdf.collect()
    ids_all = np.array([r["id"] for r in rows], dtype=np.int64)
    m_all = np.array([list(r["v"]) for r in rows], dtype=np.float64)
    n_all = np.sqrt((m_all * m_all).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((ids_all, m_all, n_all))

    def gen(batches):
        b_ids, b_m, b_n = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([list(v) for v in pdf["v"]], dtype=np.float64)
            xid = pdf["id"].to_numpy(dtype=np.int64)
            xn = np.sqrt((x * x).sum(axis=1))
            micro = np.floor((x @ b_m.T) / np.outer(xn, b_n) * 1_000_000.0)
            ia, ib = np.nonzero(micro >= threshold_micro)
            a, b = xid[ia], b_ids[ib]
            keep = a < b
            yield pd.DataFrame({"id_a": a[keep], "id_b": b[keep]})

    return sdf.mapInPandas(gen, "id_a long, id_b long")


def cosine_neardup_chunked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes,
    chunks: int,
    threshold_micro: int,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: sign-signature chunk
    buckets generate candidates, exact cosine verifies them.

    Each row's ``bits``-bit hyperplane signature (FP-exact via
    ``int_planes`` — see module docstring) splits into ``chunks``
    groups; rows sharing ANY chunk value become a candidate pair
    (equi-join per chunk — never a cross product). Pigeonhole: a true
    pair is missed only if every chunk differs, so pairs within
    signature-Hamming <= chunks-1 are captured with CERTAINTY; the
    only probabilistic step is cosine -> signature Hamming
    (P[bit differs] = theta/pi per plane), which concentrates hard for
    genuine near-dups (cos >= 0.9 at 24 bits: E[Hamming] ~ 3.4).
    Verify touches candidates only, with the same integer-micro
    threshold as the exact path — on captured pairs the two paths are
    bit-identical.

    Scale shape: one shuffle of (chunk, value)-keyed signature rows;
    join keys are hashes (uniform, skew-free); the quadratic blowup is
    bounded per bucket, exactly the MinHash-LSH economics."""
    bits = len(planes)
    width = bits // chunks
    assert width * chunks == bits, "chunks must divide len(planes)"
    t = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    sig = t.withColumn("bucket", hyperplane_bucket_expr("v", planes))
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("bucket"), c * width).bitwiseAND(F.lit((1 << width) - 1)).alias("val"),
            )
            for c in range(chunks)
        ]
    )
    ct = sig.select("id", F.explode(chunk_arr).alias("c")).select("id", "c.chunk", "c.val")
    cand = (
        ct.alias("a")
        .join(
            ct.alias("b"),
            on=[
                F.col("a.chunk") == F.col("b.chunk"),
                F.col("a.val") == F.col("b.val"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = t.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = t.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", _cos_micro(F.col("va"), F.col("vb")).alias("cos_micro"))
        .filter(F.col("cos_micro") >= F.lit(int(threshold_micro)))
    )
