"""Bucketed-table support: shuffle-free co-located joins.

At 100 TB the dominant cost of a large-large equi-join is shuffling
both sides. Hive-style bucketing (``bucketBy`` on the join key at write
time) pre-hashes rows into a fixed number of files per key-hash, so two
tables bucketed the same way join with NO Exchange on either side —
the scan itself satisfies the join's distribution requirement.

The reference has no notion of physical layout (everything is one
in-memory recarray); this is the Spark-native replacement for "I keep
my big tables pre-sorted by key".
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: str | list[str],
    n_buckets: int = 32,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Persist as a bucketed (optionally sorted) managed table.

    ``sort_by`` additionally sorts within buckets, upgrading
    merge-joins to zero-sort as well as zero-shuffle.
    """
    keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    w = df.write.mode(mode).format(format).bucketBy(n_buckets, *keys)
    if sort_by:
        sk = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sk)
    w.saveAsTable(table_name)


def is_shuffle_free_join(joined: DataFrame) -> bool:
    """True if the physical plan contains a join but no Exchange —
    the assertion that bucketing removed the shuffle."""
    plan = joined._jdf.queryExecution().executedPlan().toString()
    shuffles = plan.replace("BroadcastExchange", "").count("Exchange")
    return "Join" in plan and shuffles == 0
