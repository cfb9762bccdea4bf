"""Entries-table IO: the set-based form of the reference's mutations.

The reference writes through GraphQL mutations (create/update/disable,
Mutator.scala:342-449; S7/S8/S10 in SURVEY §2.1). Set-based
equivalents over a parquet entries table:

  * create  -> new rows
  * update  -> anti-join the old rows out, union the new ones in
  * disable -> `disable_entries` sets disabled = true

Entry write-only columns (Mutator.scala:357-377 create, :426-449
update): `next_crawl` (= clock + re-analysis interval,
determineNextCrawl at Mutator.scala:451-455), `updated_at` (= clock,
updatedNow at :457-458), and `has_been_tagged`, which an UPDATE always
resets to false (Mutator.scala:431) so the downstream tagger re-visits
the entry; CREATE leaves it false (schema default). The reference's
`img` field is carried here as `image_url`. The clock is a parameter
(never wall-time inside a job) so runs are deterministic and
re-playable.

`apply_entry_actions` applies a planned action column (see
operators/changes.plan_actions) to an entries table and returns the
next full table state (pure DataFrame; parquet overwrite cost is
O(table) per run). `pipeline.run_extraction` writes it as
`entries_next/`.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_CLOCK = "1970-01-01T00:00:00Z"
REANALYSIS_INTERVAL_HOURS = 48  # reference default, Config.scala:76


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """Read a table by catalog name or filesystem path."""
    if "/" in ref:
        return spark.read.parquet(ref)
    return spark.read.table(ref)


def read_prior(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """The prior state in the parquet dir `path`; None only when there
    is none: the path does not exist, or the dir holds no parquet files.
    Existence is checked first (Hadoop FileSystem), so an absent path
    never reaches the reader. Corrupt files raise."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(hpath):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return None
        raise


_ENTRY_FIELDS = (
    "title", "summary", "content", "date", "tags", "etag", "image_url",
    "content_hash",
)
# write-only columns the mutations set but extraction never produces
_WRITE_COLS = ("next_crawl", "updated_at", "has_been_tagged")


def _parse_clock(clock: str) -> datetime:
    return datetime.fromisoformat(clock.replace("Z", "+00:00")).astimezone(
        timezone.utc
    )


def _iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def next_crawl_at(clock: str, interval_hours: int) -> str:
    """determineNextCrawl (Mutator.scala:451-455): clock + interval."""
    return _iso(_parse_clock(clock) + timedelta(hours=interval_hours))


def apply_entry_actions(
    entries: Optional[DataFrame],
    planned: DataFrame,
    clock: str = DEFAULT_CLOCK,
    reanalysis_interval_hours: int = REANALYSIS_INTERVAL_HOURS,
) -> DataFrame:
    """Produce the next entries-table state from planned actions.

    planned: output of operators.changes.plan_actions (+ `disabled`
    from operators.dedup.mark_duplicates); actions: create | update |
    skip | error. Returns the new full entries DataFrame:

      * create: new row (deterministic entry_id from url_id), with
        next_crawl/updated_at stamped from `clock` and
        has_been_tagged=false (Mutator.scala:357-377)
      * update: existing row's fields replaced, next_crawl/updated_at
        restamped, has_been_tagged RESET to false (Mutator.scala:426-449)
      * skip/error: existing row untouched
      * rows in `entries` with no planned row: untouched

    The caller writes the result as the next table state (a full
    rewrite).
    """
    cols = ["url_id", *(_ENTRY_FIELDS)]
    nc = F.lit(next_crawl_at(clock, reanalysis_interval_hours))
    ua = F.lit(_iso(_parse_clock(clock)))
    stamped = [
        nc.alias("next_crawl"),
        ua.alias("updated_at"),
        F.lit(False).alias("has_been_tagged"),
    ]
    creates = planned.where(F.col("action") == "create").select(
        F.concat(F.lit("entry-"), F.col("url_id")).alias("entry_id"),
        *[F.col(c) for c in cols],
        F.coalesce(F.col("disabled"), F.lit(False)).alias("disabled"),
        *stamped,
    )
    updates = planned.where(F.col("action") == "update").select(
        F.col("entry_id"),
        *[F.col(c) for c in cols],
        F.coalesce(F.col("disabled"), F.lit(False)).alias("disabled"),
        *stamped,
    )
    if entries is None:
        return creates
    for c in _WRITE_COLS:  # tolerate pre-existing tables without them
        if c not in entries.columns:
            typ = "boolean" if c == "has_been_tagged" else "string"
            entries = entries.withColumn(c, F.lit(None).cast(typ))
    untouched = entries.join(
        updates.select("entry_id"), "entry_id", "left_anti"
    )
    return untouched.unionByName(updates).unionByName(creates)


def disable_entries(entries: DataFrame, entry_ids: DataFrame) -> DataFrame:
    """S10: set disabled=true for the given entry ids (404 handling)."""
    marked = entry_ids.select(F.col("entry_id").alias("_d_id")).distinct()
    return (
        entries.join(marked, entries["entry_id"] == marked["_d_id"], "left")
        .withColumn(
            "disabled",
            F.when(F.col("_d_id").isNotNull(), F.lit(True)).otherwise(
                F.coalesce(F.col("disabled"), F.lit(False))
            ),
        )
        .drop("_d_id")
    )
