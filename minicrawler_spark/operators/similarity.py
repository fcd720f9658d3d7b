"""Similarity search over embedding columns (north-rule addition):
brute-force cosine top-k as the exact baseline, and a deterministic
random-hyperplane LSH bucketing as the scale path (bucket-join instead
of cross-join; the 100 TB plan is: signature once per vector, shuffle
on (bucket), search within bucket + neighboring buckets)."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["plane_component", "hyperplanes", "dot", "brute_force_topk", "lsh_signature", "lsh_bucket_ann"]


def plane_component(i: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1),
    derived from md5 — reproducible as literals in the SQL oracle."""
    h = int(hashlib.md5(("plane_%d_%d" % (i, d)).encode()).hexdigest()[:8], 16)
    return round(h / float(1 << 31) - 1.0, 6)


def hyperplanes(n_planes: int, dim: int):
    return [[plane_component(i, d) for d in range(dim)] for i in range(n_planes)]


def dot(l, r):
    """Dot product of two array<double> columns, summed left to right
    in index order from 0.0: the same float order as the DuckDB
    oracle's list_dot_product, so results agree to the last bit. One
    small higher-order expression, whatever the dimension, so the
    plan stays inside the JVM's method-size limit for codegen."""
    return F.aggregate(
        F.zip_with(l, r, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
    )


def _cosine(l, r):
    return dot(l, r) / (F.sqrt(dot(l, l)) * F.sqrt(dot(r, r)))


def brute_force_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors for the first n_queries vec_ids. The
    query side is broadcast (tiny); the corpus scan stays columnar."""
    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_cosine(F.col("qv"), F.col("v")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def lsh_signature(embeddings: DataFrame, n_planes: int = 8, dim: int = 32) -> DataFrame:
    """Sign-bit signature: bit i = (plane_i . v >= 0). Deterministic
    planes -> identical buckets in the SQL oracle."""
    v = F.col("embedding").cast("array<double>")
    sig = None
    for i in range(n_planes):
        plane = F.array(*[F.lit(plane_component(i, d)) for d in range(dim)])
        term = F.when(dot(v, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return embeddings.select("vec_id", sig.cast("long").alias("bucket"))


def lsh_bucket_ann(
    embeddings: DataFrame, n_planes: int = 8, dim: int = 32, k: int = 3
) -> DataFrame:
    """ANN via same-bucket search: top-k by cosine within each LSH
    bucket. The scale path — the join key is the bucket, so work is
    proportional to sum(bucket^2), not n^2."""
    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).join(lsh_signature(embeddings, n_planes, dim), "vec_id")
    l, r = base.alias("l"), base.alias("r")
    scored = (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") != F.col("r.vec_id")),
        )
        .withColumn("cosine", F.round(_cosine(F.col("l.v"), F.col("r.v")), 4))
    )
    w = Window.partitionBy("l.vec_id").orderBy(F.desc("cosine"), F.asc("r.vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("l.vec_id").alias("query_id"),
            F.col("r.vec_id").alias("vec_id"),
            "cosine",
            "rank",
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_probe: int = 2,
    n_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer assigns every vector to its
    nearest cell; queries probe only their n_probe nearest cells and
    brute-force within. Work is ~ n * n_probe / n_cells of the full
    scan — the inverted-file scale path next to the LSH one.

    Centroids are the vectors with the n_cells smallest vec_ids —
    deterministic by construction (a k-means refinement would drift
    between engines; the DuckDB oracle mirrors this seeding exactly).
    """
    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = base.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    affinity = base.crossJoin(F.broadcast(cents)).withColumn(
        "cos", F.round(_cosine(F.col("v"), F.col("cv")), 6)
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cos"), F.asc("cell")
    )
    ranked = affinity.withColumn("crk", F.row_number().over(w_assign))
    assign = ranked.filter(F.col("crk") == 1).select("vec_id", "cell", "v")
    probes = (
        ranked.filter(
            (F.col("vec_id") < n_queries) & (F.col("crk") <= n_probe)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cell"),
            F.col("v").alias("qv"),
        )
    )
    scored = (
        probes.join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_cosine(F.col("qv"), F.col("v")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )
