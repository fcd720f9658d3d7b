"""Deterministic sampling/splitting for training-data pipelines
(north-rule addition). RNG-based sampling (`df.sample`, `sampleBy`)
is not reproducible across engines, partitionings or reruns — a
training pipeline wants CONTENT-ADDRESSED assignment: the same
document lands in the same split on every run, on every engine, no
matter how the data is partitioned. Both operators here derive a
uniform u in [0,1) from the 60-bit md5 key hash (the same
cross-engine trick the dedup operators use), so the DuckDB oracle
reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.local import local_frame

__all__ = ["hash_uniform", "hash_split", "stratified_sample"]

_TWO_60 = float(1 << 60)


def hash_uniform(col, salt: str):
    """Uniform double in [0,1) from md5(key + NUL + salt)'s first 60
    bits — deterministic, partition-independent, engine-portable
    (DuckDB: ('0x' || substr(md5(...),1,15))::BIGINT / 2^60)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x00", col.cast("string"), F.lit(salt))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    return h / F.lit(_TWO_60)


def hash_split(
    docs: DataFrame,
    weights: dict,
    key: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Assign every row to a named split with the given weights
    (e.g. {"train": .9, "val": .05, "test": .05}) by hashing `key` —
    reproducible across runs/engines/partitionings, no shuffle, no
    RNG state. Weights must sum to ~1; the last split absorbs float
    residue. Returns the input plus a `split` column."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError("split weights must sum to 1 (got %s)" % total)
    u = hash_uniform(F.col(key), salt)
    names = list(weights)
    expr = F.lit(names[-1])
    cum = 0.0
    conds = []
    for name in names[:-1]:
        cum += weights[name]
        conds.append((name, cum))
    for name, bound in reversed(conds):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def stratified_sample(
    docs: DataFrame,
    fractions: dict,
    on: str = "source",
    key: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing step
    (keep 100% of books, 30% of common-crawl, ...): rows whose
    stratum is missing from `fractions` are dropped (fraction 0).
    The fractions ride a broadcast join (tiny dim table), the keep
    decision is the same content-addressed hash as hash_split — one
    narrow scan, no shuffle of the corpus."""
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError("fraction for %r out of [0,1]: %s"
                             % (name, frac))
    spark = docs.sparkSession
    dim = F.broadcast(
        local_frame(
            spark,
            [(k, float(v)) for k, v in fractions.items()],
            "%s string, _frac double" % on,
        )
    )
    u = hash_uniform(F.col(key), salt)
    return (
        docs.join(dim, on, "inner")
        .filter(u < F.col("_frac"))
        .drop("_frac")
    )
