"""Exact top-k heavy hitters via mergeable Misra-Gries candidate filtering.

The 100 TB shape for "what are the k most frequent values of this
column" when the column's cardinality is itself huge (tokens, URLs,
user ids): a full ``groupBy(col).count()`` shuffles one row per
DISTINCT value — at corpus scale that is billions of groups for an
answer of k rows. The classic two-pass exact algorithm bounds the
shuffle at k-proportional size instead:

1. **Summary pass** (one scan, ZERO shuffle): each partition folds its
   rows into a Misra-Gries summary of ``summary_size`` counters using
   the mergeable-summaries merge (Agarwal, Cormode, Huang, Phillips,
   Wei & Yi, "Mergeable Summaries", PODS 2012): add a batch's exact
   counts, then subtract the (m+1)-th largest counter from all and
   drop the non-positive. The subtracted total ``d_p`` is the
   partition's error bound: any value absent from partition p's
   summary has true count <= d_p there, so any value absent from
   EVERY summary has global count <= D = sum(d_p).
2. **Exact pass**: the candidate values (<= partitions x summary_size,
   broadcast) are counted exactly with an ordinary semi-join +
   hash aggregate — the shuffle now carries candidate values only.

The result is EXACT (not approximate) whenever the k-th candidate's
exact count strictly exceeds D — checked at runtime; on failure (the
distribution was too flat for the summary size) the operator falls
back to the full exact aggregate, so the returned top-k is always the
true top-k ordered by (count desc, value asc). That check is what
makes the operator oracle-verifiable against a plain SQL GROUP BY.

The reference has no frequent-items surface; this extends the corpus
tier (vocabulary builds, stop-word discovery, skew-key detection
before a join). No counterpart file in /root/reference.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 10,
    summary_size: int | None = None,
    count_col: str = "n",
) -> DataFrame:
    """Exact top-``k`` most frequent values of ``df[col]`` with their
    exact counts, ordered by (count desc, value asc). NULLs (and NaNs
    for floating columns) are excluded.

    ``summary_size`` (default ``max(32 * k, 256)``) is the per-partition
    Misra-Gries counter budget m: the summary pass is exact-safe for
    any value whose global frequency exceeds n/(m+1) of the scanned
    rows; below that the runtime guarantee check triggers the exact
    fallback. Larger m = more candidates shuffled (still bounded by
    partitions x m), fewer fallbacks.

    The call is EAGER: the exactness guarantee check must run the
    candidate aggregate anyway, so it returns a LOCAL (already
    materialized) k-row DataFrame — re-running the two-pass plan on
    every downstream action would re-scan the corpus for a k-row
    result.
    """
    import numpy as np
    import pandas as pd

    m = summary_size if summary_size is not None else max(32 * k, 256)
    if m < k:
        raise ValueError(f"summary_size {m} must be >= k {k}")
    spark = df.sparkSession
    dtype = dict(df.dtypes)[col]
    src = df.select(F.col(col).alias("value")).where(F.col("value").isNotNull())
    if dtype in ("float", "double"):
        src = src.where(~F.isnan("value"))

    def _mg(batches):
        cnt = None  # pandas Series: value -> MG counter
        d = 0  # total decremented — the absent-value error bound
        for b in batches:
            if not len(b):
                continue
            vc = b["value"].value_counts()
            cnt = vc if cnt is None else cnt.add(vc, fill_value=0)
            if len(cnt) > m:
                arr = cnt.to_numpy()
                # (m+1)-th largest counter; subtracting it from all and
                # keeping positives retains <= m counters (the mergeable
                # MG merge), adding exactly `sub` to the error bound
                sub = np.partition(arr, len(arr) - (m + 1))[len(arr) - (m + 1)]
                if sub > 0:
                    d += int(sub)
                    cnt = cnt[cnt > sub] - sub
        out = {"value": [], "mg": [], "is_bound": []}
        frame = pd.DataFrame(out)
        if cnt is not None and len(cnt):
            frame = pd.DataFrame(
                {
                    "value": cnt.index.to_numpy(),
                    "mg": cnt.to_numpy().astype("int64"),
                    "is_bound": False,
                }
            )
        bound = pd.DataFrame({"value": [None], "mg": [d], "is_bound": [True]})
        yield pd.concat([frame, bound], ignore_index=True)

    summ = src.mapInPandas(
        _mg, f"value {dtype}, mg long, is_bound boolean"
    ).persist()
    try:
        # D: max possible global count of any value outside the
        # candidate set (sum of per-partition decrement totals)
        D = summ.where("is_bound").agg(F.sum("mg")).collect()[0][0] or 0
        cand = summ.where(~F.col("is_bound")).select("value").distinct()
        counts = (
            src.join(F.broadcast(cand), "value", "left_semi")
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias(count_col))
        )
        rows = (
            counts.orderBy(F.col(count_col).desc(), F.col("value").asc())
            .limit(k)
            .collect()
        )
        schema = f"value {dtype}, {count_col} long"
        # Exact iff nothing outside the candidate set can reach rank k:
        # D == 0 means no counter was ever decremented (the summaries
        # hold EVERY scanned value), else the k-th candidate must
        # strictly beat the best possible non-candidate (ties would be
        # ambiguous under the value-asc tiebreak).
        if D == 0 or (len(rows) == k and rows[-1][count_col] > D):
            return spark.createDataFrame(rows, schema)
        warnings.warn(
            f"heavy_hitters: guarantee check failed (k-th count "
            f"{rows[-1][count_col] if rows else 0} <= bound {D}); "
            f"falling back to the full exact aggregate — raise "
            f"summary_size (m={m}) to keep the bounded-shuffle path",
            stacklevel=2,
        )
        exact = (
            src.groupBy("value")
            .agg(F.count(F.lit(1)).alias(count_col))
            .orderBy(F.col(count_col).desc(), F.col("value").asc())
            .limit(k)
            .collect()
        )
        return spark.createDataFrame(exact, schema)
    finally:
        summ.unpersist()
