"""Full re-analysis flow: extraction + change detection + entries upsert
(SURVEY §3.3: docs ⟕ entries → extract → changed-filter → MERGE)."""

import pytest
from pyspark.sql import functions as F

from content_extractor_spark import synth
from content_extractor_spark.pipeline import PipelineConfig, run_extraction


ENTRIES_DDL = (
    "entry_id string, url_id string, title string, summary string, "
    "content string, date string, tags array<string>, etag string, "
    "image_url string, content_hash long, disabled boolean"
)


def test_reanalysis_updates_entries(spark, tmp_path):
    docs = synth.documents_df(spark, 120, n_hosts=4, seed=21, partitions=2).cache()
    profiles = synth.all_profiles(4)

    # first run: no existing entries -> everything is a create
    out1 = str(tmp_path / "run1")
    entries0 = spark.createDataFrame([], ENTRIES_DDL)
    s1 = run_extraction(
        spark, docs, profiles, out1, PipelineConfig(num_buckets=4, run_id="r1"),
        existing_entries=entries0,
    )
    assert s1["actions"].get("create", 0) == s1["ok"]
    assert "update" not in s1["actions"] and "skip" not in s1["actions"]
    entries1 = spark.read.parquet(f"{out1}/entries_next")
    assert entries1.count() == s1["ok"]

    # second run over the SAME docs with entries1 -> everything unchanged
    out2 = str(tmp_path / "run2")
    s2 = run_extraction(
        spark, docs, profiles, out2, PipelineConfig(num_buckets=4, run_id="r2"),
        existing_entries=entries1,
    )
    assert s2["actions"].get("skip", 0) == s2["ok"]
    assert "update" not in s2["actions"] and "create" not in s2["actions"]
    entries2 = spark.read.parquet(f"{out2}/entries_next")
    assert entries2.count() == entries1.count()

    # third run with tampered stored titles -> every row becomes an update
    tampered = entries1.withColumn("title", F.concat(F.lit("OLD::"), F.col("title")))
    out3 = str(tmp_path / "run3")
    s3 = run_extraction(
        spark, docs, profiles, out3, PipelineConfig(num_buckets=4, run_id="r3"),
        existing_entries=tampered,
    )
    assert s3["actions"].get("update", 0) == s3["ok"]
    entries3 = spark.read.parquet(f"{out3}/entries_next")
    # updated rows carry the fresh titles again
    assert entries3.where(F.col("title").startswith("OLD::")).count() == 0


def test_cross_run_dedup_on_resume(spark, tmp_path):
    """A duplicate whose twin was committed before the crash must come
    out disabled when its bucket is processed by the resume run."""
    from content_extractor_spark.kernel.spans import html_to_spans
    from content_extractor_spark.pipeline import with_bucket
    from content_extractor_spark.synth import DOCUMENTS_DDL

    html = (
        "<html><body><h1 class='title'>Same title</h1>"
        "<div id='content-main'><p class='lead'>Same lead</p>"
        "<p>identical body</p></div></body></html>"
    )
    profiles = synth.all_profiles(1)
    # find two doc ids landing in different buckets (num_buckets=2)
    rows = []
    for i in ("dup-a", "dup-b", "dup-c", "dup-d"):
        rows.append({
            "doc_id": i, "spans": html_to_spans(html),
            "host": "www.host0.example", "url": f"https://www.host0.example/articles/{i}",
            "url_id": f"u-{i}", "last_crawl": "1970-01-01T00:00:00Z", "etag": None,
        })
    df = spark.createDataFrame(rows, DOCUMENTS_DDL)
    buckets = {r["doc_id"]: r["bucket"] for r in with_bucket(df, 2).select("doc_id", "bucket").collect()}
    b0 = [d for d, b in buckets.items() if b == 0]
    b1 = [d for d, b in buckets.items() if b == 1]
    assert b0 and b1, buckets

    out = str(tmp_path / "xrun")
    # run 1: only bucket-0 docs reach the pipeline (simulate partial corpus),
    # then fake a crash by keeping its ledger
    df0 = df.where(F.col("doc_id").isin(b0))
    run_extraction(spark, df0, profiles, out, PipelineConfig(num_buckets=2, run_id="r1"))
    # resume over the FULL corpus: bucket 0 is skipped (ledgered), bucket 1
    # extracts fresh rows whose hash already exists on disk -> disabled
    run_extraction(spark, df, profiles, out, PipelineConfig(num_buckets=2, run_id="r2"))
    spans = spark.read.parquet(f"{out}/spans_out")
    res = {r["doc_id"]: r["disabled"] for r in spans.collect()}
    first_run_kept = [d for d in b0 if not res[d]]
    assert len(first_run_kept) == 1  # one kept in run 1
    assert all(res[d] for d in b1)  # every resume-run twin disabled


def test_observed_actions_match_planned_counts(spark, tmp_path):
    """The action counts are observed on `planned`, which the entries
    write reads in three branches; they must equal a plain group-by."""
    from content_extractor_spark.operators.changes import plan_actions

    docs = synth.documents_df(spark, 120, n_hosts=4, seed=21, partitions=2).cache()
    profiles = synth.all_profiles(4)
    out1 = str(tmp_path / "run1")
    run_extraction(
        spark, docs, profiles, out1, PipelineConfig(num_buckets=4, run_id="r1"),
        existing_entries=spark.createDataFrame([], ENTRIES_DDL),
    )
    # stored titles tampered for a third of the urls, a fifth dropped:
    # the next run plans create, update and skip
    h = F.pmod(F.xxhash64("url_id"), F.lit(15))
    mixed = (
        spark.read.parquet(f"{out1}/entries_next")
        .withColumn("title", F.when(h % 3 == 0, F.lit("OLD")).otherwise(F.col("title")))
        .where(h % 5 != 0)
        .cache()
    )
    out2 = str(tmp_path / "run2")
    s = run_extraction(
        spark, docs, profiles, out2, PipelineConfig(num_buckets=4, run_id="r2"),
        existing_entries=mixed,
    )
    planned = plan_actions(
        spark.read.parquet(f"{out2}/spans_out").where(F.col("status") == "ok"), mixed
    )
    expected = {r["action"]: r["count"] for r in planned.groupBy("action").count().collect()}
    assert set(expected) == {"create", "update", "skip"}
    assert s["actions"] == expected
