"""Content-hash dedup (A2) — first-writer-wins via a window.

The reference checks "does an enabled entry with this contentHash
exist" before each write and disables duplicates
(GraphQLHelper.scala:267-287; Mutator.scala:300-307,489-499) — a
read-check-then-write race it accepts. Set-based equivalent: one
window per content_hash; rank>1 (or any match in the existing
entries) ⇒ disabled=true. Deterministic order key = doc_id.

At 10^12 docs the window shuffles on content_hash, which is ~unique
per distinct page: near-uniform key distribution, no skew concern;
AQE coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mark_duplicates(
    extracted: DataFrame,
    existing_entries: Optional[DataFrame] = None,
) -> DataFrame:
    """Add `disabled` (bool): true for all but the first row per hash,
    and for any row whose hash already exists enabled in `existing_entries`.
    Rows without a hash (failed extraction) are never marked."""
    w = Window.partitionBy("content_hash").orderBy(F.col("doc_id"))
    out = extracted.withColumn(
        "_rn", F.when(F.col("content_hash").isNotNull(), F.row_number().over(w))
    )
    disabled = F.col("_rn") > F.lit(1)
    if existing_entries is not None:
        existing = (
            existing_entries.where(~F.coalesce(F.col("disabled"), F.lit(False)))
            .select(F.col("content_hash").alias("_ex_hash"))
            .dropDuplicates(["_ex_hash"])
        )
        out = out.join(
            existing, out["content_hash"] == existing["_ex_hash"], "left"
        )
        disabled = disabled | F.col("_ex_hash").isNotNull()
    return out.withColumn(
        "disabled",
        F.when(F.col("content_hash").isNotNull(), F.coalesce(disabled, F.lit(False))),
    ).drop("_ex_hash", "_rn")
