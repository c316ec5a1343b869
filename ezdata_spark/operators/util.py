"""Small shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def capped_distinct(df: DataFrame, col: str, cap: int, what: str, hint: str) -> list:
    """Collect the distinct values of ``col`` with a hard driver-side
    bound: fetch at most ``cap + 1`` rows (the limit sits under the
    distinct, so the probe never streams an unbounded value set into
    the driver) and raise with guidance when the cap is exceeded —
    a high-cardinality column should fail fast, not OOM the driver.
    Returns the raw values (including None if present), unsorted."""
    probe = df.select(col).distinct().limit(cap + 1).collect()
    if len(probe) > cap:
        raise ValueError(
            f"{what}: column {col!r} has more than {cap} distinct values — "
            f"{hint} Raise the cap to override deliberately."
        )
    return [r[0] for r in probe]


def _fan_out(df: DataFrame) -> DataFrame:
    """Repartition CPU-bound per-row stages up to cluster parallelism.

    A small parquet file arrives as 1-2 partitions (bytes-based split),
    which serializes compute-heavy stages like shingle hashing on a
    many-core executor; the shuffle of the raw rows costs far less than
    the single-threaded hashing. At real scale (many files / row
    groups) the input already has enough partitions and this is a no-op.
    Streaming frames pass through untouched (no .rdd on a stream; the
    micro-batch source picks its own parallelism).
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
