"""SQL UDFs and the entry sink (create/update/skip, disable)."""

from content_extractor_spark.functions import register_all
from content_extractor_spark.sources import apply_entry_actions
from content_extractor_spark.sources.io import disable_entries


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
    """S10: disabling entries (404 handling)."""

    def test_disable_entries(self, spark):
        entries = spark.createDataFrame(
            [("e1", False), ("e2", False)], "entry_id string, disabled boolean"
        )
        gone = spark.createDataFrame([("e1",)], "entry_id string")
        out = {r["entry_id"]: r["disabled"] for r in disable_entries(entries, gone).collect()}
        assert out == {"e1": True, "e2": False}

