"""Partitioning policy helpers.

``widen`` fixes the narrow-input + heavy-per-row-compute shape: a small
parquet file (one row group) scans as a single partition, serializing
CPU-bound kernels (hash sketches, embedding, regex batteries) on one core
while the rest of the cluster idles. At real scale inputs arrive in many
splits and this is a no-op; the explicit partition count keeps AQE from
coalescing the exchange back down (AQE only rewrites shuffles without a
user-specified numPartitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shuffle_width(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int — the width CPU-dense
    small-byte stages pin their exchange to (guide §2.5) — falling back
    to ``sparkContext.defaultParallelism`` on platforms where the conf
    is non-numeric (e.g. "auto" under externally managed AQE) or below
    1. Shared helper per ADVICE r16 #2 (the inline
    ``int(conf.get(...))`` sites raised ValueError there)."""
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        width = 0
    return width if width >= 1 else spark.sparkContext.defaultParallelism


def widen(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition up to ``target`` (default: :func:`shuffle_width`) when
    the plan currently has fewer partitions; never narrows. The default
    is the configured shuffle width rather than the executor core
    count, so the same code yields the same plan on any host size."""
    target = target or shuffle_width(df.sparkSession)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
