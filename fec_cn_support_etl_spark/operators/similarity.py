"""Similarity search and near-dup pairs over an embedding column
(array<float>).

Top-k paths, per the scale playbook:
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
- ivf_topk: nearest-centroid cells over FP-exact integer centroids;
  each query scans its ``nprobe`` nearest cells.

Near-dup pairs: cosine_neardup_blocked is the one exact all-pairs
path, a block self-join with one numpy matmul per block pair; the
corpus never reaches the driver.

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


def cosine_neardup_blocked(
    df: DataFrame, id_col: str, vec_col: str, threshold_micro: int
) -> DataFrame:
    """Exact all-pairs cosine membership pairs (id_a < id_b with
    floor(cos * 1e6) >= threshold_micro) as a distributed block
    self-join (guide §4.2: hand whole Arrow batches to vectorized
    native code).

    Rows go to ``n`` blocks by pmod(xxhash64(id), n), with ``n`` the
    input's partition count, read from its RDD: that runs no job over a
    scan or a local relation, but over a shuffled input it runs the
    exchange. Each block is one collect_list row; block ``p`` pairs with
    blocks ``p..n-1`` through an equi-join on an exploded partner key,
    so there is no nested-loop join and no broadcast of the corpus, and
    nothing reaches the driver. One ``mapInPandas`` call per block pair
    runs ONE float64 matmul; a SQL self-join would instead evaluate an
    interpreted 192-term HOF fold per PAIR (384M lambda evaluations at
    sf0.1: 2,000 vectors -> 2M pairs). Within a block a pair is emitted
    as a < b, across blocks as (least, greatest): each unordered pair
    comes out exactly once. The working set is one |A| x |B| double
    matrix per block pair in one Python worker, so the input's
    partitioning sets it.

    Membership is decided on floor(cos * 1e6), so summation-order
    jitter (~1e-16) matters only for a pair within one micro-unit of
    the threshold; at sf0.1 (915 pairs at 400200) the nearest pair on
    either side sits 89 micro-units from it, which is also why the
    DuckDB oracle's ``list_cosine_similarity`` agrees. The pair set
    equals a numpy brute force over all pairs
    (tests/test_similarity.py::test_blocked_matches_exact).
    """
    n = df.rdd.getNumPartitions()
    blocks = (
        df.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v"))
        .groupBy(F.pmod(F.xxhash64("id"), F.lit(n)).alias("blk"))
        .agg(F.collect_list(F.struct("id", "v")).alias("rows"))
        .select("blk", F.col("rows.id").alias("ids"), F.col("rows.v").alias("vs"))
        # the join infers this filter on its build side; stating it on
        # both sides keeps their block aggregations identical, so the
        # corpus is scanned and shuffled once (ReusedExchange)
        .filter(F.col("blk").isNotNull())
    )
    left = blocks.select(
        F.col("blk").alias("pa"),
        F.col("ids").alias("ids_a"),
        F.col("vs").alias("vs_a"),
        F.explode(F.sequence("blk", F.lit(n - 1).cast("long"))).alias("pb"),
    )
    # the hint keeps the block table off the broadcast path: under the
    # size threshold the planner would otherwise broadcast the corpus
    right = blocks.select(
        F.col("blk").alias("pb"), F.col("ids").alias("ids_b"), F.col("vs").alias("vs_b")
    ).hint("shuffle_hash")

    def mat_norms(vs):
        m = np.stack(vs).astype(np.float64)
        return m, np.sqrt((m * m).sum(axis=1))

    def gen(batches):
        for pdf in batches:
            cols = pdf[["pa", "pb", "ids_a", "vs_a", "ids_b", "vs_b"]]
            for pa, pb, ids_a, vs_a, ids_b, vs_b in cols.itertuples(index=False):
                (a, na), (b, nb) = mat_norms(vs_a), mat_norms(vs_b)
                micro = np.floor((a @ b.T) / np.outer(na, nb) * 1_000_000.0)
                ia, ib = np.nonzero(micro >= threshold_micro)
                x, y = ids_a.astype(np.int64)[ia], ids_b.astype(np.int64)[ib]
                if pa == pb:
                    keep = x < y
                    x, y = x[keep], y[keep]
                yield pd.DataFrame({"id_a": np.minimum(x, y), "id_b": np.maximum(x, y)})

    return left.join(right, "pb").mapInPandas(gen, "id_a long, id_b long")
