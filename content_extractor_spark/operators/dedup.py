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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mark_duplicates(
    extracted: DataFrame,
    existing_entries: Optional[DataFrame] = None,
) -> DataFrame:
    """Add `disabled` (bool): true for all but the first row per hash,
    and for any row whose hash already exists enabled in `existing_entries`.
    Rows without a hash (failed extraction) are never marked."""
    out = extracted.withColumn("_rn", F.expr(
        "CASE WHEN content_hash IS NOT NULL THEN"
        " row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) END"
    ))
    disabled = "_rn > 1"
    if existing_entries is not None:
        existing = (
            existing_entries.where("NOT coalesce(disabled, false)")
            .selectExpr("content_hash AS _ex_hash")
            .dropDuplicates(["_ex_hash"])
        )
        out = out.join(existing, F.expr("content_hash = _ex_hash"), "left")
        disabled = "_rn > 1 OR _ex_hash IS NOT NULL"
    return out.withColumn("disabled", F.expr(
        f"CASE WHEN content_hash IS NOT NULL THEN coalesce({disabled}, false) END"
    )).drop("_ex_hash", "_rn")
