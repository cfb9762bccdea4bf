"""The one-join `apply_entry_actions` against the anti-join + union form
it replaced, kept here as its oracle.

Both are compared as multisets of rows, and the counts the new form
observes on its join are compared with a plain group-by of the planned
rows, on fixtures with duplicate url_ids in one run, duplicate and null
entry_ids in the entries, every action, no entries, zero ok rows and an
all-skip run.
"""

from collections import Counter

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from content_extractor_spark.operators.changes import plan_actions
from content_extractor_spark.sources.io import (
    _ENTRY_FIELDS,
    _WRITE_COLS,
    _iso,
    _parse_clock,
    apply_entry_actions,
    next_crawl_at,
)

CLOCK = "2021-07-01T00:00:00Z"
HOURS = 48

ENTRIES_DDL = (
    "entry_id string, url_id string, title string, summary string, "
    "content string, date string, tags array<string>, etag string, "
    "image_url string, content_hash long, disabled boolean"
)
EXTRACTED_DDL = (
    "doc_id string, url_id string, status string, title string, "
    "summary string, content string, date string, tags array<string>, "
    "etag string, image_url string, content_hash long, disabled boolean"
)


def apply_oracle(entries, planned, clock, reanalysis_interval_hours):
    """The anti-join + union form: creates and updates are two filters
    of `planned`, and the ids of the updates anti-join the old rows out."""
    cols = ["url_id", *_ENTRY_FIELDS]
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
    for c in _WRITE_COLS:
        if c not in entries.columns:
            typ = "boolean" if c == "has_been_tagged" else "string"
            entries = entries.withColumn(c, F.lit(None).cast(typ))
    untouched = entries.join(updates.select("entry_id"), "entry_id", "left_anti")
    return untouched.unionByName(updates).unionByName(creates)


def _entry(eid, url, title="t", tags=("a",), content="c"):
    return (eid, url, title, "s", content, "d", list(tags) if tags is not None else None,
            None, None, 1, False)


def _doc(url, status="ok", title="t", tags=("a",), content="c", doc=None):
    return (doc or f"d-{url}-{title}-{content}", url, status, title, "s", content, "d",
            list(tags) if tags is not None else None, None, None, 1, False)


ENTRIES = [
    _entry("e1", "u1"),                      # skip
    _entry("e2", "u2", title="old"),         # updated twice (u2 twice below)
    _entry("e3", "u3"),                      # its doc errors
    _entry("e4", "u4", tags=("a", "b")),     # A4 quirk: same size, new member
    _entry("e9", "u9"),                      # no planned row
    _entry("eD", "uD1", title="old"),        # duplicate entry_id ...
    _entry("eD", "uD2", title="old"),        # ... both updated
    _entry("eS", "uS1", title="old"),        # duplicate entry_id ...
    _entry("eS", "uS2"),                     # ... one updated, one skipped
    _entry("eK", "uK"),                      # duplicate id, untouched
    _entry("eK", "uK"),
    _entry(None, "uN", title="old"),         # null entry_id, updated
    _entry(None, "uM"),                      # null entry_id, untouched
]
DOCS = [
    _doc("u1"),
    _doc("u2", title="new"),
    _doc("u2", content="other"),             # duplicate url_id in one run
    _doc("u3", status="error"),
    _doc("u4", tags=("a", "c")),
    _doc("u5", title="fresh"),               # create ...
    _doc("u5", title="fresh", doc="d-u5-b"),  # ... twice
    _doc("u6", status="no_title"),           # error, no entry
    _doc("uD1"), _doc("uD2"), _doc("uS1"), _doc("uS2"), _doc("uN"),
]


def _rows(df):
    def freeze(v):
        return tuple(v) if isinstance(v, list) else v

    return Counter(tuple(freeze(v) for v in r) for r in df.collect())


def _planned(spark, entries, docs):
    ent = spark.createDataFrame(entries, ENTRIES_DDL)
    ex = spark.createDataFrame(docs, EXTRACTED_DDL)
    return ent, plan_actions(ex, ent)


def _check(entries, planned):
    want = apply_oracle(entries, planned, CLOCK, HOURS)
    obs = Observation("actions")
    got = apply_entry_actions(
        entries, planned, clock=CLOCK, reanalysis_interval_hours=HOURS, actions=obs
    )
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    counts = {r["action"]: r["count"]
              for r in planned.groupBy("action").count().collect() if r["action"]}
    assert {a: n for a, n in obs.get.items() if n} == counts
    return counts


def test_mixed_actions_and_duplicate_keys(spark):
    entries, planned = _planned(spark, ENTRIES, DOCS)
    counts = _check(entries, planned)
    assert counts == {"create": 2, "update": 6, "skip": 3, "error": 2}


def test_duplicate_entry_id_with_one_update(spark):
    entries, planned = _planned(
        spark, [_entry("eD", "uD1", title="old"), _entry("eD", "uD2")],
        [_doc("uD1"), _doc("uD2")],
    )
    assert _check(entries, planned) == {"update": 1, "skip": 1}


def test_no_entries_writes_creates_only(spark):
    _, planned = _planned(spark, ENTRIES, DOCS)
    _check(None, planned)


def test_zero_ok_rows(spark, tmp_path):
    """The ok filter runs over a parquet scan, as the pipeline's does, so
    the planned side is found empty only at run time (by AQE)."""
    path = str(tmp_path / "spans")
    spark.createDataFrame(
        [d for d in DOCS if d[2] != "ok"], EXTRACTED_DDL
    ).write.parquet(path)
    entries = spark.createDataFrame(ENTRIES, ENTRIES_DDL)
    ok = spark.read.parquet(path).where(F.col("status") == "ok")
    assert _check(entries, plan_actions(ok, entries)) == {}


def test_all_skip_run(spark):
    entries = [_entry(f"e{i}", f"u{i}") for i in range(6)]
    entries, planned = _planned(spark, entries, [_doc(f"u{i}") for i in range(6)])
    assert _check(entries, planned) == {"skip": 6}


@pytest.mark.parametrize("with_write_cols", [False, True])
def test_write_only_columns_kept_or_added(spark, with_write_cols):
    entries, planned = _planned(spark, ENTRIES, DOCS)
    if with_write_cols:
        entries = entries.selectExpr(
            "*", "'2021-01-03T00:00:00Z' AS next_crawl",
            "'2021-01-01T00:00:00Z' AS updated_at", "true AS has_been_tagged")
    _check(entries, planned)
