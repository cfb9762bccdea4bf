"""Table IO with Iceberg-first, parquet-fallback semantics.

The reference writes through GraphQL mutations (create/update/disable,
Mutator.scala:342-449; S7/S8/S10 in SURVEY §2.1). Set-based
equivalents:

  * create  -> append / MERGE WHEN NOT MATCHED INSERT
  * update  -> MERGE INTO ... WHEN MATCHED UPDATE (Iceberg), or the
    parquet fallback: anti-join old ∪ new overwrite
  * disable -> MERGE ... SET disabled = true

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
O(table) per run). `merge_entry_actions` is the scale path: it emits
one `MERGE INTO` against an Iceberg table so a run rewrites only the
touched files. `upsert_entries` dispatches between them based on
`iceberg_available` and the table reference shape.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize

DEFAULT_CLOCK = "1970-01-01T00:00:00Z"
REANALYSIS_INTERVAL_HOURS = 48  # reference default, Config.scala:76


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime is on the JVM classpath.

    Must use Class.forName: py4j resolves unknown `_jvm.x.y` paths to a
    JavaPackage object without raising, so attribute probing alone
    always "succeeds"."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.Snapshot"
        )
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """Read a table by catalog name or filesystem path."""
    if "/" in ref:
        return spark.read.parquet(ref)
    return spark.read.table(ref)


def read_prior(spark: SparkSession, ref: str) -> Optional[DataFrame]:
    """The prior state at `ref` (a parquet dir or a catalog table name);
    None only when there is none: the table or path does not exist, or
    the dir holds no parquet files. Existence is checked first (Hadoop
    FileSystem for paths), so an absent path never reaches the reader.
    Corrupt files raise."""
    if "/" not in ref:
        return read_table(spark, ref) if spark.catalog.tableExists(ref) else None
    path = spark._jvm.org.apache.hadoop.fs.Path(ref)  # noqa: SLF001
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(path):
        return None
    try:
        return read_table(spark, ref)
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

# the planned-actions columns the entries MERGE consumes (plan_actions
# output subset) — the dry run validates source expressions against it
PLANNED_DDL = (
    "url_id string, action string, title string, summary string, "
    "content string, date string, tags array<string>, etag string, "
    "image_url string, content_hash int, disabled boolean"
)


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

    This is the set-based MERGE (parquet full-rewrite fallback); on an
    Iceberg catalog use `merge_entry_actions`/`upsert_entries` instead,
    which rewrite only touched files.
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


def entry_merge_sql(
    entries_table: str,
    planned_view: str,
    clock: str = DEFAULT_CLOCK,
    reanalysis_interval_hours: int = REANALYSIS_INTERVAL_HOURS,
) -> str:
    """The MERGE INTO statement equivalent to `apply_entry_actions`.

    One MERGE per run keyed on url_id (unique), mirroring
    Mutator.scala:342-449: matched+update rows get all extracted fields
    plus the restamped write columns (has_been_tagged reset to false);
    unmatched create rows are inserted with a deterministic entry_id.
    skip/error actions fall through untouched. Iceberg turns this into
    a rewrite of only the touched data files (copy-on-write) instead of
    the parquet fallback's full-table rewrite.
    """
    nc = next_crawl_at(clock, reanalysis_interval_hours)
    ua = _iso(_parse_clock(clock))
    field_sets = ",\n          ".join(
        f"t.{c} = p.{c}" for c in _ENTRY_FIELDS
    )
    insert_cols = ", ".join(
        ["entry_id", "url_id", *(_ENTRY_FIELDS), "disabled", *(_WRITE_COLS)]
    )
    insert_vals = ", ".join(
        [
            "concat('entry-', p.url_id)",
            "p.url_id",
            *[f"p.{c}" for c in _ENTRY_FIELDS],
            "coalesce(p.disabled, false)",
            f"'{nc}'",
            f"'{ua}'",
            "false",
        ]
    )
    return f"""
        MERGE INTO {entries_table} t
        USING {planned_view} p
        ON t.url_id = p.url_id
        WHEN MATCHED AND p.action = 'update' THEN UPDATE SET
          {field_sets},
          t.disabled = coalesce(p.disabled, false),
          t.next_crawl = '{nc}',
          t.updated_at = '{ua}',
          t.has_been_tagged = false
        WHEN NOT MATCHED AND p.action = 'create' THEN
          INSERT ({insert_cols})
          VALUES ({insert_vals})
    """


def entry_merge_dry_run(
    spark: SparkSession,
    entries_table: str,
    planned: DataFrame,
    clock: str = DEFAULT_CLOCK,
    reanalysis_interval_hours: int = REANALYSIS_INTERVAL_HOURS,
) -> str:
    """Executable dry run of the entries MERGE for environments without
    a MERGE-capable catalog (this sandbox ships no Iceberg jar): walks
    the REAL path — temp-view registration, SQL generation — and
    analyzes every source-side expression the MERGE references against
    the live planned frame (p.url_id, p.action, each p.<field>, the
    coalesce on p.disabled), so a schema drift in plan_actions fails
    here exactly as it would fail the live MERGE. Returns the exact
    SQL; executes nothing against the target table.
    """
    view = "__planned_entry_actions"
    planned.createOrReplaceTempView(view)
    try:
        sql = entry_merge_sql(
            entries_table, view, clock, reanalysis_interval_hours
        )
        probe = ", ".join(
            [
                "concat('entry-', p.url_id)",
                "p.url_id",
                "p.action",
                *[f"p.{c}" for c in _ENTRY_FIELDS],
                "coalesce(p.disabled, false)",
            ]
        )
        # .schema forces analysis without executing a job
        spark.sql(f"SELECT {probe} FROM {view} p").schema
    finally:
        spark.catalog.dropTempView(view)
    return sql


def merge_entry_actions(
    spark: SparkSession,
    entries_table: str,
    planned: DataFrame,
    clock: str = DEFAULT_CLOCK,
    reanalysis_interval_hours: int = REANALYSIS_INTERVAL_HOURS,
) -> None:
    """Run the entries MERGE against an Iceberg (or other MERGE-capable)
    catalog table. Requires the planned frame's columns from
    plan_actions (+ disabled)."""
    view = "__planned_entry_actions"
    planned.createOrReplaceTempView(view)
    try:
        spark.sql(
            entry_merge_sql(entries_table, view, clock, reanalysis_interval_hours)
        )
    finally:
        spark.catalog.dropTempView(view)


def upsert_entries(
    spark: SparkSession,
    entries_ref: str,
    planned: DataFrame,
    clock: str = DEFAULT_CLOCK,
    reanalysis_interval_hours: int = REANALYSIS_INTERVAL_HOURS,
) -> None:
    """S7 dispatcher: MERGE INTO on a catalog table when Iceberg is
    present; parquet read → apply_entry_actions → overwrite otherwise."""
    if "/" not in entries_ref and iceberg_available(spark):
        merge_entry_actions(
            spark, entries_ref, planned, clock, reanalysis_interval_hours
        )
        return
    existing = read_prior(spark, entries_ref)
    nxt = apply_entry_actions(
        existing, planned, clock, reanalysis_interval_hours
    )
    if existing is not None:
        nxt = materialize(nxt)  # detach lineage from input files
    if "/" in entries_ref:
        nxt.write.mode("overwrite").parquet(entries_ref)
    else:
        nxt.writeTo(entries_ref).createOrReplace()


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
