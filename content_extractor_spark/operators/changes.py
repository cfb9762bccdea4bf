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

# A3-A5 as one SQL expression over the extracted row and the joined
# entry's `_e_` columns: building it is one Py4J round trip.
#   A3 content changed: field-wise null-safe inequality.
#   A4 tags changed, LITERAL (see module docstring): with no existing
#   tags, changed <=> scraped tags non-empty; else `sameAmount`
#   (misnamed) = sizes differ, with null scraped tags counting as 0
#   (spelled out: size(NULL) is -1 under the legacy conf and NULL under
#   ANSI), and `nothingChanged` (misnamed) = some scraped tag is not in
#   existing (scraped None -> existing non-empty); changed = both.
_ACTION_SQL = """
CASE WHEN status != 'ok' THEN 'error'
     WHEN _e_url_id IS NULL THEN 'create'
     WHEN (NOT (title <=> _e_title AND summary <=> _e_summary
                AND content <=> _e_content AND date <=> _e_date))
       OR (CASE WHEN _e_tags IS NULL THEN tags IS NOT NULL AND size(tags) > 0
                ELSE size(_e_tags) != (CASE WHEN tags IS NULL THEN 0 ELSE size(tags) END)
                     AND (CASE WHEN tags IS NULL THEN size(_e_tags) > 0
                               ELSE size(array_except(tags, _e_tags)) > 0 END)
           END)
     THEN 'update'
     ELSE 'skip' END"""


def plan_actions(
    extracted: DataFrame,
    existing_entries: DataFrame,
) -> DataFrame:
    """Join extracted rows to existing entries and assign an `action`:

    create | update | skip (unchanged) | error (extraction failed).
    Returns the extracted columns + action + entry_id (null for create).
    """
    ex = existing_entries.selectExpr(
        "entry_id AS _e_id", "url_id AS _e_url_id",
        *(f"{f} AS _e_{f}" for f in _FIELDS), "tags AS _e_tags",
    )
    keep = [f"`{c}`" for c in extracted.columns if c not in ("action", "entry_id")]
    return extracted.join(ex, F.expr("url_id = _e_url_id"), "left").selectExpr(
        *keep, f"{_ACTION_SQL} AS action", "_e_id AS entry_id"
    )
