"""Explicit skew handling (north rule): salting and spreading.

A Zipfian host distribution makes naive groupBy(host)/join(host) plans
straggle at 10^12 docs: the hottest host's partition is orders of
magnitude larger than the median. Two standard remedies, as reusable
operators:

  * `salted_agg` — two-phase aggregation: group by (key, salt) first
    (map-side + uniform shuffle), then re-aggregate by key. For
    algebraic aggregates (count/sum/min/max) this bounds any single
    reducer's input to ~1/salt of the hot key. (Plain count/sum are
    already partially aggregated by Spark; salting matters for
    size-accumulating aggregates like collect_list/set and for
    high-cardinality-combining ones.)
  * `spread` — widen a frame narrower than the session's parallelism
    (a single-split scan) before per-row map work.

AQE's skew-join splitting (enabled in session.py) covers sort-merge
joins automatically; these operators cover aggregations and the cases
where the split decision must be explicit and deterministic.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to ``defaultParallelism`` partitions when it
    has fewer; otherwise return it untouched.

    A single-row-group parquet file or a small re-read batch scans as
    ONE split, so every per-row stage before the first exchange runs on
    one core. A frame already at least that wide (a real partitioned
    corpus) is never narrowed or needlessly shuffled.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salted_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    aggs: dict,
    salt: int = 16,
    id_col: Optional[str] = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    aggs: {out_name: (agg_fn_name, in_col)} with agg_fn in
    {count, sum, min, max} (algebraic — re-aggregatable).
    `id_col` (any roughly-unique column) seeds the salt; falls back to
    a per-partition counter.
    """
    salt_expr = (
        F.pmod(F.xxhash64(*[F.col(c) for c in ([id_col] if id_col else key_cols)],
                          F.monotonically_increasing_id() if not id_col else F.lit(0)),
               F.lit(salt))
    )
    phase1_aggs: List[Column] = []
    phase2_aggs: List[Column] = []
    for out, (fn, col) in aggs.items():
        if fn == "count":
            phase1_aggs.append(F.count(col if col else "*").alias(f"_p_{out}"))
            phase2_aggs.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "sum":
            phase1_aggs.append(F.sum(col).alias(f"_p_{out}"))
            phase2_aggs.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "min":
            phase1_aggs.append(F.min(col).alias(f"_p_{out}"))
            phase2_aggs.append(F.min(f"_p_{out}").alias(out))
        elif fn == "max":
            phase1_aggs.append(F.max(col).alias(f"_p_{out}"))
            phase2_aggs.append(F.max(f"_p_{out}").alias(out))
        else:
            raise ValueError(f"non-algebraic aggregate '{fn}' cannot be salted")
    partial = (
        df.withColumn("_salt", salt_expr)
        .groupBy(*key_cols, "_salt")
        .agg(*phase1_aggs)
    )
    return partial.groupBy(*key_cols).agg(*phase2_aggs)
