"""Entries-table IO: the set-based form of the reference's mutations.

The reference writes through GraphQL mutations (create/update/disable,
Mutator.scala:342-449; S7/S8/S10 in SURVEY §2.1). Set-based
equivalents over a parquet entries table:

  * create  -> new rows
  * update  -> one full-outer join of the entries with the planned
    rows on entry_id, in which only update rows match: a matched entry
    is replaced by its update, an unmatched one is kept, and unmatched
    creates become new rows (skip and error rows are dropped)
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
O(table) per run). The planned rows are read once, by that one join.
`pipeline.run_extraction` writes the result as `entries_next/`.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DEFAULT_CLOCK = "1970-01-01T00:00:00Z"
REANALYSIS_INTERVAL_HOURS = 48  # reference default, Config.scala:76


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether `path` exists on its Hadoop FileSystem."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs.exists(hpath)


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """Read a table by filesystem path, or by catalog name when no such
    path exists (so a relative `docs` reads the dir, like `./docs`)."""
    if _exists(spark, ref):
        return spark.read.parquet(ref)
    return spark.read.table(ref)


def read_prior(
    spark: SparkSession, path: str, schema: StructType | str
) -> Optional[DataFrame]:
    """The prior state in the parquet dir `path`, read by its declared
    `schema` (a StructType or DDL string); None only when the path does
    not exist. Existence is checked first (Hadoop FileSystem), so an
    absent path never reaches the reader. With the schema declared no
    job runs to infer one from the footers, and an empty dir reads as
    an empty frame. Corrupt files raise when the frame is read."""
    if not _exists(spark, path):
        return None
    return spark.read.schema(schema).parquet(path)


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


_ACTIONS = ("create", "update", "skip", "error")


def apply_entry_actions(
    entries: Optional[DataFrame],
    planned: DataFrame,
    clock: str = DEFAULT_CLOCK,
    reanalysis_interval_hours: int = REANALYSIS_INTERVAL_HOURS,
    actions: Optional[Observation] = None,
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

    `planned` is read once: one full-outer join with `entries` on
    entry_id in which only update rows match. Every entry row whose id
    an update names is replaced, and each update is written once even
    when several entry rows share its id. `actions`, when given,
    observes the count of each action on the joined rows, above the
    join, where no empty-side pruning can drop it.

    The caller writes the result as the next table state (a full
    rewrite).
    """
    p = planned.selectExpr(
        "true AS _p", "action AS _action", "entry_id AS _p_entry_id",
        *(f"{c} AS _p_{c}" for c in ("url_id", *_ENTRY_FIELDS, "disabled")),
    )
    # the entry row a planned row writes, as SQL over its `_p_` columns
    written = {
        "entry_id": "CASE WHEN _action = 'create' THEN concat('entry-', _p_url_id)"
                    " ELSE _p_entry_id END",
        **{c: f"_p_{c}" for c in ("url_id", *_ENTRY_FIELDS)},
        "disabled": "coalesce(_p_disabled, false)",
        "next_crawl": "_p_next_crawl",
        "updated_at": "_p_updated_at",
        "has_been_tagged": "false",
    }
    if entries is None:
        rows, first = p, "true"
        keep_p = keep = "_action = 'create'"
        out = [f"{written[c]} AS {c}" for c in written]
    else:
        missing = [c for c in _WRITE_COLS if c not in entries.columns]
        cols = [*entries.columns, *missing]
        if set(cols) != set(written):
            raise ValueError(f"entries columns {cols} != {list(written)}")
        # tolerate pre-existing tables without the write-only columns; the
        # ordinal picks the one joined copy of an update whose id several
        # entry rows share
        e = entries.selectExpr(
            "*",
            *(f"CAST(NULL AS {'boolean' if c == 'has_been_tagged' else 'string'}) AS {c}"
              for c in missing),
            "row_number() OVER (PARTITION BY entry_id ORDER BY entry_id) AS _e_rn",
        )
        rows = e.join(p, F.expr("entry_id = _p_entry_id AND _action = 'update'"), "full_outer")
        first = "coalesce(_e_rn, 1) = 1"
        keep_p = f"_p AND (_action = 'create' OR (_action = 'update' AND {first}))"
        keep = "_keep_p OR _p IS NULL"  # a written planned row, or an unmatched entry
        out = [f"CASE WHEN _keep_p THEN {written[c]} ELSE {c} END AS {c}" for c in cols]
    if actions is not None:
        rows = rows.observe(actions, *(
            F.expr(f"sum(CAST(_action = '{a}' AND {first} AS BIGINT)) AS {a}")
            for a in _ACTIONS))
    return (
        rows.withColumns({
            "_p_next_crawl": F.lit(next_crawl_at(clock, reanalysis_interval_hours)),
            "_p_updated_at": F.lit(_iso(_parse_clock(clock))),
            "_keep_p": F.expr(keep_p),
        })
        .where(keep)
        .selectExpr(*out)
    )


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
