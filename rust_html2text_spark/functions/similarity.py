"""Similarity search over embedding columns.

- `knn_bruteforce`: exact cosine top-k via a broadcast join of the (small)
  query set against the corpus — the baseline.  At 100 TB the corpus side
  stays partitioned; only queries broadcast, so no shuffle of the big side.
- `knn_lsh`: random-hyperplane LSH bucketing (deterministic hyperplanes) —
  the scale path: corpus hashed once (narrow projection), candidates only
  within matching buckets.
- `knn_ivf`: inverted-file lists; exact cosine only within probed lists.
  The three kNN finders differ only in their candidate join and share one
  top-k tail (`_top_k`).
- `embedding_cosine_dups`: the same hyperplane hashes as band keys of the
  banded self-join every near-duplicate finder shares
  (`dedup._banded_pairs`), then the exact cosine on the candidates only.

Dot products use `F.aggregate`/`F.zip_with` (JVM-side, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from rust_html2text_spark.functions.dedup import _banded_pairs


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_a = F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    norm_b = F.sqrt(
        F.aggregate(
            b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (norm_a * norm_b)


def _top_k(queries: DataFrame, corpus: DataFrame, k: int, on=None) -> DataFrame:
    """The tail every kNN finder shares: broadcast the queries (query_id,
    q_emb) onto the corpus (neighbor_id, c_emb) on the finder's candidate
    condition `on` (None = every corpus vector), drop self-pairs, score the
    rounded cosine and keep the top k per query, ties broken by the lower
    neighbor_id.  Returns (query_id, neighbor_id, rank, cosine)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        corpus.join(F.broadcast(queries), on)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def knn_bruteforce(
    embeddings: DataFrame, k: int = 5, num_queries: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbours for the first `num_queries` vectors."""
    queries = embeddings.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    return _top_k(queries, corpus, k)


def hyperplane_signs(num_planes: int, dim: int, plane_offset: int = 0) -> list[list[float]]:
    """Deterministic ±1 hyperplane components (pure Python, no numpy): a
    splitmix64-style integer mix of (plane, component) whose high bit gives
    an unbiased sign.  Shared by the Spark expressions below AND the DuckDB
    oracle-SQL generator in __spark_entry__, so both engines hash with
    byte-identical hyperplanes."""
    mask = (1 << 64) - 1
    out = []
    for p in range(plane_offset, plane_offset + num_planes):
        row = []
        for j in range(dim):
            x = (p * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) & mask
            x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & mask
            x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & mask
            row.append(1.0 if (x >> 63) & 1 else -1.0)
        out.append(row)
    return out


def _plane_dot(emb_col, signs: list[float]):
    """In-order left fold of emb·signs — the evaluation order is fixed, so
    the double result is bit-identical run-to-run and matches a sequential
    SQL sum over the same products."""
    signs_arr = F.array(*[F.lit(s) for s in signs])
    return F.aggregate(
        F.zip_with(emb_col, signs_arr, lambda x, s: x.cast("double") * s),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def hyperplane_sign_bits(
    emb_col, num_planes: int = 8, dim: int = 64, plane_offset: int = 0
):
    """Random-hyperplane LSH bucket id: bit p = (dot(emb, plane_p) >= 0)."""
    bits = []
    for p, signs in enumerate(hyperplane_signs(num_planes, dim, plane_offset)):
        dot = _plane_dot(emb_col, signs)
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * (1 << p))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket


def knn_lsh(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    num_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket."""
    hashed = embeddings.withColumn(
        "bucket", hyperplane_sign_bits(F.col("embedding"), num_planes, dim)
    )
    queries = hashed.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    corpus = hashed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("c_bucket"),
    )
    return _top_k(queries, corpus, k, F.col("c_bucket") == F.col("q_bucket"))


def kmeans_refine(
    embeddings: DataFrame, k: int = 16, iters: int = 2
) -> DataFrame:
    """Deterministic Lloyd's refinement for IVF centroids: init = the
    first k vectors, then `iters` rounds of (assign to nearest-by-cosine
    centroid, recompute element-wise means).  Means are computed as exact
    DECIMAL sums divided in double — bit-stable at any parallelism and
    reproducible in a SQL oracle.  Returns (cid, centroid: array<double>).

    Shuffle shape per iteration: one broadcast nested-loop over k rows for
    assignment, one (cid, dim) hash aggregation (map-side combined), one
    small regroup to rebuild arrays — no all-pairs anything.
    """
    cents = embeddings.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "centroid"
        ),
    )
    for _ in range(iters):
        sim = _cosine(F.col("embedding"), F.col("centroid"))
        wa = Window.partitionBy("vec_id").orderBy(
            F.col("csim").desc(), F.col("cid").asc()
        )
        assign = (
            embeddings.join(F.broadcast(cents))
            .select("vec_id", "embedding", "cid", sim.alias("csim"))
            .withColumn("crank", F.row_number().over(wa))
            .filter(F.col("crank") == 1)
            .select("vec_id", "embedding", "cid")
        )
        dims = assign.select(
            "cid", F.posexplode(F.col("embedding")).alias("dim", "val")
        )
        means = (
            dims.groupBy("cid", "dim")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(28,10)")).cast("double")
                    / F.count("*")
                ).alias("mean")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mean"))),
                    lambda s: s.mean,
                ).alias("centroid")
            )
        )
        cents = means
    return cents


def knn_ivf(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    num_centroids: int = 16,
    nprobe: int = 2,
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are assigned
    to their nearest centroid's list, queries probe the `nprobe` nearest
    lists, and exact cosine runs only within probed lists.

    Centroid selection is pluggable; here it is the deterministic first
    `num_centroids` vectors (at scale: sample + k-means refresh offline,
    then broadcast — the assignment/probe plan below is unchanged).  The
    centroid table broadcasts (num_centroids rows), so assignment is a
    map-side nested-loop over K small rows per vector; the only shuffles
    are the per-vector ranking window and the list-id equi-join.  The
    assignment lineage is referenced by both the corpus and query branches,
    but the query branch's `vec_id < num_queries` filter pushes below its
    window, so the duplicated recompute covers only the query vectors.
    """
    if kmeans_iters > 0:
        cents = kmeans_refine(embeddings, num_centroids, kmeans_iters).select(
            "cid", F.col("centroid").alias("cent_emb")
        )
    else:
        cents = embeddings.filter(F.col("vec_id") < num_centroids).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cent_emb")
        )
    sim = _cosine(F.col("embedding"), F.col("cent_emb"))
    wa = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cid").asc()
    )
    assign = (
        embeddings.join(F.broadcast(cents))
        .select("vec_id", "embedding", "cid", sim.alias("csim"))
        .withColumn("crank", F.row_number().over(wa))
    )
    corpus = assign.filter(F.col("crank") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "cid",
    )
    queries = assign.filter(
        (F.col("vec_id") < num_queries) & (F.col("crank") <= nprobe)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), "cid"
    )
    return _top_k(queries, corpus, k, "cid")


def embedding_cosine_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_tables: int = 12,
    bits_per_table: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold, candidates
    restricted to LSH buckets (never an all-pairs join).

    L = num_tables independent hyperplane tables of b = bits_per_table sign
    bits each; a pair is a candidate iff it shares a bucket in ANY table,
    then the exact cosine filter runs only on candidates.  Recall for a
    pair at angle θ is 1 - (1 - (1 - θ/π)^b)^L — with the defaults, ≥0.93
    at cosine 0.5 and ≥0.9999 at cosine 0.9; raise bits_per_table (and
    num_tables) at scale to shrink buckets for tighter thresholds.
    Measured against the exact all-pairs answer on the test embeddings:
    recall 0.93 (sf0.1, threshold 0.5, 13/14 pairs) and 0.85-0.89 at the
    far-looser threshold 0.4 — matching the formula's prediction.
    Per-table bucket population is n/2^b in expectation; AQE skew-join
    splits hot buckets.
    """
    keys = [
        hyperplane_sign_bits(
            F.col("embedding"), bits_per_table, dim, plane_offset=t * bits_per_table
        )
        for t in range(num_tables)
    ]
    cand = _banded_pairs(embeddings, keys, None, ids=("vec_id", "vec_a", "vec_b"))
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(_cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") > threshold)
    )
