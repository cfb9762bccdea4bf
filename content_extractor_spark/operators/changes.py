"""Change detection + create/update/skip dispatch (A3-A6).

Reference semantics:
  * A6 create-vs-update: existing entry for the url? → update path,
    else create (UrlHandler.scala:109-172) — a left outer join on
    url_id, branch on null.
  * A3 contentHasChanged: field-wise Option equality over (title,
    summary, content, date) (UrlHandler.scala:408-438).
  * A4 tagsHaveChanged (UrlHandler.scala:375-397) — replicated
    LITERALLY, quirk included: with existing tags present, the
    reference computes `sameAmount && nothingChanged` where
    `sameAmount` is actually "sizes differ" and `nothingChanged` is
    actually "some scraped tag missing from existing"; tags count as
    changed only when BOTH hold. Equal-size tag sets with different
    membership are therefore treated as UNCHANGED (no update issued).
    With no existing tags, changed ⇔ scraped tags non-empty.
  * A5 update-vs-skip: changed = contentChanged ∨ tagsChanged
    (UrlHandler.scala:339-364).

The join shuffles on url_id (unique key, uniform) — sort-merge or
shuffled-hash at scale; AQE may convert to broadcast when the existing
side is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FIELDS = ("title", "summary", "content", "date")


def plan_actions(
    extracted: DataFrame,
    existing_entries: DataFrame,
) -> DataFrame:
    """Join extracted rows to existing entries and assign an `action`:

    create | update | skip (unchanged) | error (extraction failed).
    Returns the extracted columns + action + entry_id (null for create).
    """
    ex = existing_entries.select(
        F.col("entry_id").alias("_e_id"),
        F.col("url_id").alias("_e_url_id"),
        *[F.col(f).alias(f"_e_{f}") for f in _FIELDS],
        F.col("tags").alias("_e_tags"),
    )
    joined = extracted.join(ex, extracted["url_id"] == ex["_e_url_id"], "left")

    content_changed = ~(
        F.col("title").eqNullSafe(F.col("_e_title"))
        & F.col("summary").eqNullSafe(F.col("_e_summary"))
        & F.col("content").eqNullSafe(F.col("_e_content"))
        & F.col("date").eqNullSafe(F.col("_e_date"))
    )
    s, e = F.col("tags"), F.col("_e_tags")
    # A4 literal (UrlHandler.scala:375-397): see module docstring.
    # `sameAmount` (misnamed) = sizes differ; `nothingChanged`
    # (misnamed) = exists a scraped tag not in existing (scraped
    # None -> existing non-empty). Changed = both.
    # explicit null handling: size(NULL) is -1 under legacy conf
    # (and NULL under ANSI), so spell out "null counts as 0" rather
    # than relying on spark.sql.legacy.sizeOfNull
    sizes_differ = F.size(e) != F.when(s.isNull(), F.lit(0)).otherwise(F.size(s))
    some_missing = F.when(s.isNull(), F.size(e) > 0).otherwise(
        F.size(F.array_except(s, e)) > 0
    )
    tags_changed = F.when(
        e.isNull(), s.isNotNull() & (F.size(s) > 0)
    ).otherwise(sizes_differ & some_missing)

    action = (
        F.when(F.col("status") != "ok", F.lit("error"))
        .when(F.col("_e_url_id").isNull(), F.lit("create"))
        .when(content_changed | tags_changed, F.lit("update"))
        .otherwise(F.lit("skip"))
    )
    return (
        joined.withColumn("action", action)
        .withColumn("entry_id", F.col("_e_id"))
        .drop("_e_id", "_e_url_id", "_e_tags", *[f"_e_{f}" for f in _FIELDS])
    )
