"""SQL UDFs, entry sink (MERGE semantics), and streaming extraction."""

import pytest
from pyspark.sql import functions as F

from content_extractor_spark import synth
from content_extractor_spark.functions import register_all
from content_extractor_spark.sources import apply_entry_actions
from content_extractor_spark.sources.io import disable_entries
from content_extractor_spark.streaming import run_available_now, streaming_extract


class TestSqlUdfs:
    def test_content_hash_sql(self, spark):
        register_all(spark)
        got = spark.sql(
            "SELECT content_hash('The title', 'This summarizes everything', "
            "'This contains a lot.', '2021-07-21T22:00:00Z') AS h"
        ).collect()[0]["h"]
        assert got == 328104163  # EntryInformationSpec pin

    def test_content_hash_null_coalesce(self, spark):
        register_all(spark)
        got = spark.sql(
            "SELECT content_hash('The title', CAST(NULL AS STRING), "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)) AS h"
        ).collect()[0]["h"]
        assert got == 318208789

    def test_clean_url_sql(self, spark):
        register_all(spark)
        got = spark.sql(
            "SELECT clean_url('https://x.de/a;jsessionid=Z/p?nn=1&q=2#f') AS u"
        ).collect()[0]["u"]
        assert got == "https://x.de/a/p?q=2"

    def test_merge_host_url_sql(self, spark):
        register_all(spark)
        got = spark.sql(
            "SELECT merge_host_url('/img/x.jpg', 'https://a.de') AS u"
        ).collect()[0]["u"]
        assert got == "https://a.de/img/x.jpg"


class TestEntrySink:
    def _planned(self, spark):
        return spark.createDataFrame(
            [
                ("u1", "t1", "s", "c", "d", ["a"], None, None, 11, "create", None, False),
                ("u2", "t2", "s", "c", "d", ["a"], None, None, 22, "update", "e2", False),
                ("u3", "t3", "s", "c", "d", ["a"], None, None, 33, "skip", "e3", False),
                ("u4", "t4", "s", "c", "d", ["a"], None, None, 11, "create", None, True),
            ],
            "url_id string, title string, summary string, content string, "
            "date string, tags array<string>, etag string, image_url string, "
            "content_hash long, action string, entry_id string, disabled boolean",
        )

    def test_apply_actions(self, spark):
        entries = spark.createDataFrame(
            [
                ("e2", "u2", "old", "s", "c", "d", ["a"], None, None, 99, False),
                ("e3", "u3", "t3", "s", "c", "d", ["a"], None, None, 33, False),
                ("e9", "u9", "t9", "s", "c", "d", ["a"], None, None, 77, False),
            ],
            "entry_id string, url_id string, title string, summary string, "
            "content string, date string, tags array<string>, etag string, "
            "image_url string, content_hash long, disabled boolean",
        )
        out = apply_entry_actions(
            entries, self._planned(spark), clock="2021-07-01T00:00:00Z",
            reanalysis_interval_hours=48,
        )
        rows = {r["entry_id"]: r for r in out.collect()}
        assert len(rows) == 5  # e2 updated, e3 + e9 untouched, 2 creates
        assert rows["e2"]["title"] == "t2"  # updated
        assert rows["e3"]["title"] == "t3"  # untouched (skip)
        assert rows["e9"]["title"] == "t9"  # untouched (no planned row)
        assert rows["entry-u1"]["disabled"] is False
        assert rows["entry-u4"]["disabled"] is True  # dup-hash disable
        # write-only columns (Mutator.scala:357-377 create, :426-449
        # update): stamped from the parameterized clock, update resets
        # has_been_tagged, untouched rows keep their prior (here null)
        for eid in ("entry-u1", "e2"):
            assert rows[eid]["updated_at"] == "2021-07-01T00:00:00Z"
            assert rows[eid]["next_crawl"] == "2021-07-03T00:00:00Z"
            assert rows[eid]["has_been_tagged"] is False
        assert rows["e3"]["updated_at"] is None
        assert rows["e3"]["has_been_tagged"] is None

    def test_apply_actions_empty_entries(self, spark):
        out = apply_entry_actions(None, self._planned(spark))
        assert out.count() == 2  # creates only

    def test_update_resets_has_been_tagged(self, spark):
        entries = spark.createDataFrame(
            [("e2", "u2", "old", "s", "c", "d", ["a"], None, None, 99, False,
              "2021-01-03T00:00:00Z", "2021-01-01T00:00:00Z", True),
             ("e3", "u3", "t3", "s", "c", "d", ["a"], None, None, 33, False,
              "2021-01-03T00:00:00Z", "2021-01-01T00:00:00Z", True)],
            "entry_id string, url_id string, title string, summary string, "
            "content string, date string, tags array<string>, etag string, "
            "image_url string, content_hash long, disabled boolean, "
            "next_crawl string, updated_at string, has_been_tagged boolean",
        )
        out = apply_entry_actions(
            entries, self._planned(spark), clock="2021-07-01T12:00:00Z"
        )
        rows = {r["entry_id"]: r for r in out.collect()}
        assert rows["e2"]["has_been_tagged"] is False  # update resets
        assert rows["e2"]["updated_at"] == "2021-07-01T12:00:00Z"
        assert rows["e3"]["has_been_tagged"] is True   # skip keeps
        assert rows["e3"]["next_crawl"] == "2021-01-03T00:00:00Z"


class TestEntryMerge:
    def test_merge_sql_shape(self):
        from content_extractor_spark.sources.io import entry_merge_sql

        sql = entry_merge_sql(
            "cat.db.entries", "planned", clock="2021-07-01T00:00:00Z",
            reanalysis_interval_hours=48,
        )
        assert "MERGE INTO cat.db.entries t" in sql
        assert "USING planned p" in sql
        assert "ON t.url_id = p.url_id" in sql
        assert "WHEN MATCHED AND p.action = 'update' THEN UPDATE SET" in sql
        assert "WHEN NOT MATCHED AND p.action = 'create' THEN" in sql
        assert "t.has_been_tagged = false" in sql
        assert "t.next_crawl = '2021-07-03T00:00:00Z'" in sql
        assert "t.updated_at = '2021-07-01T00:00:00Z'" in sql
        assert "concat('entry-', p.url_id)" in sql
        # every extracted field is written on both branches
        for c in ("title", "summary", "content", "date", "tags", "etag",
                  "image_url", "content_hash"):
            assert f"t.{c} = p.{c}" in sql

    def test_merge_dry_run_leg(self, spark):
        """Executable smoke for the MERGE path in a jar-less sandbox:
        the dry run walks view registration + source-expression
        analysis against a REAL planned frame and returns the exact
        SQL; a planned frame missing a referenced column must fail
        analysis (what the live MERGE would do)."""
        import pytest as _pytest

        from content_extractor_spark.sources.io import (
            PLANNED_DDL,
            entry_merge_dry_run,
        )
        from pyspark.errors import AnalysisException

        planned = spark.createDataFrame(
            [("u1", "create", "t", "s", "c", "d", ["a"], None, None, 7,
              False)],
            PLANNED_DDL,
        )
        sql = entry_merge_dry_run(
            spark, "cat.db.entries", planned,
            clock="2021-07-01T00:00:00Z", reanalysis_interval_hours=48,
        )
        assert "MERGE INTO cat.db.entries t" in sql
        assert "USING __planned_entry_actions p" in sql
        assert "t.next_crawl = '2021-07-03T00:00:00Z'" in sql
        # temp view is cleaned up even on success
        assert not any(
            t.name == "__planned_entry_actions"
            for t in spark.catalog.listTables()
        )
        with _pytest.raises(AnalysisException):
            entry_merge_dry_run(
                spark, "cat.db.entries", planned.drop("content_hash")
            )

    def test_job_print_merge_sql(self, spark, capsys):
        """jobs-level dry run: --print-merge-sql needs only --entries
        and prints the exact statement, reading and writing nothing."""
        from jobs.extract_job import main

        rc = main([
            "--print-merge-sql", "--entries", "cat.db.entries",
            "--now", "2021-07-01T00:00:00Z", "--reanalysis-hours", "48",
        ])
        out = capsys.readouterr().out
        assert rc == 0
        assert "MERGE INTO cat.db.entries t" in out
        assert "t.next_crawl = '2021-07-03T00:00:00Z'" in out
        assert "WHEN NOT MATCHED AND p.action = 'create' THEN" in out

    def test_merge_path_matches_rewrite_path(self, spark, tmp_path):
        """With an Iceberg catalog the MERGE must land the same final
        state as apply_entry_actions. Skipped when the runtime jar is
        absent (this container has none)."""
        from content_extractor_spark.sources.io import iceberg_available

        if not iceberg_available(spark):
            pytest.skip("iceberg runtime jar not on the classpath")
        from content_extractor_spark.sources.io import (
            apply_entry_actions as apply_df,
            merge_entry_actions,
        )

        spark.sql("CREATE NAMESPACE IF NOT EXISTS local.db")
        entries = spark.createDataFrame(
            [("e2", "u2", "old", "s", "c", "d", ["a"], None, None, 99, False,
              None, None, True)],
            "entry_id string, url_id string, title string, summary string, "
            "content string, date string, tags array<string>, etag string, "
            "image_url string, content_hash long, disabled boolean, "
            "next_crawl string, updated_at string, has_been_tagged boolean",
        )
        entries.writeTo("local.db.entries").createOrReplace()
        planned = TestEntrySink()._planned(spark)
        merge_entry_actions(
            spark, "local.db.entries", planned, clock="2021-07-01T00:00:00Z"
        )
        got = spark.read.table("local.db.entries")
        want = apply_df(entries, planned, clock="2021-07-01T00:00:00Z")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_disable_entries(self, spark):
        entries = spark.createDataFrame(
            [("e1", False), ("e2", False)], "entry_id string, disabled boolean"
        )
        gone = spark.createDataFrame([("e1",)], "entry_id string")
        out = {r["entry_id"]: r["disabled"] for r in disable_entries(entries, gone).collect()}
        assert out == {"e1": True, "e2": False}


class TestStreamingUpsert:
    def test_stream_into_entries_create_then_skip(self, spark, tmp_path):
        """Two streamed waves of the same corpus: wave 1 creates entries,
        wave 2 (identical content) plans only skips — the table state is
        unchanged and nothing is duplicated. Checkpoint makes the loop
        resumable."""
        from content_extractor_spark.streaming import (
            run_upsert_stream,
            streaming_extract,
        )

        in_dir = str(tmp_path / "landing")
        entries_dir = str(tmp_path / "entries")
        ckpt = str(tmp_path / "ckpt")
        synth.write_documents(spark, in_dir, 40, n_hosts=3, seed=21, partitions=1)
        profiles = synth.all_profiles(3)

        run_upsert_stream(
            streaming_extract(spark, in_dir, profiles), entries_dir, ckpt,
            clock="2021-07-01T00:00:00Z",
        )
        first = spark.read.parquet(entries_dir)
        n1 = first.count()
        assert n1 > 0
        assert first.select("entry_id").distinct().count() == n1
        assert {r["updated_at"] for r in first.select("updated_at").collect()} == {
            "2021-07-01T00:00:00Z"
        }

        # identical docs land again as new FILES -> new micro-batch;
        # every row plans 'skip', so the table must be unchanged
        (
            synth.documents_df(spark, 40, n_hosts=3, seed=21, partitions=1)
            .write.mode("append").parquet(in_dir)
        )
        run_upsert_stream(
            streaming_extract(spark, in_dir, profiles), entries_dir, ckpt,
            clock="2021-08-01T00:00:00Z",
        )
        second = spark.read.parquet(entries_dir)
        assert second.count() == n1
        # unchanged content -> no update -> updated_at stays at wave 1
        assert {r["updated_at"] for r in second.select("updated_at").collect()} == {
            "2021-07-01T00:00:00Z"
        }


class TestStreaming:
    def test_available_now_extraction_and_resume(self, spark, tmp_path):
        in_dir = str(tmp_path / "landing")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        synth.write_documents(spark, in_dir, 60, n_hosts=4, seed=11, partitions=2)

        profiles = synth.all_profiles(4)
        extracted = streaming_extract(spark, in_dir, profiles)
        assert extracted.isStreaming
        run_available_now(extracted, out_dir, ckpt)
        first = spark.read.parquet(out_dir)
        n1 = first.count()
        assert n1 > 0
        assert first.where("status = 'ok'").count() > 0

        # append a second micro-batch of files; resume processes ONLY those
        (
            synth.documents_df(spark, 30, n_hosts=4, seed=12, partitions=1)
            .withColumn("doc_id", F.concat(F.lit("b2-"), F.col("doc_id")))
            .write.mode("append")
            .parquet(in_dir)
        )
        run_available_now(
            streaming_extract(spark, in_dir, profiles), out_dir, ckpt
        )
        n2 = spark.read.parquet(out_dir).count()
        assert n2 > n1  # new files processed
        ids = spark.read.parquet(out_dir).select("doc_id").collect()
        assert len(ids) == len({r["doc_id"] for r in ids})  # no reprocessing dups
