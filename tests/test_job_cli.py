"""ETag short-circuit operator + the spark-submit job entry point."""

import json

import pytest
from pyspark.sql import functions as F

from content_extractor_spark import synth
from content_extractor_spark.operators.scans import etag_unchanged_skip


def _set_env(monkeypatch, env_vars, values):
    """The job's environment holds exactly `values` of its variables."""
    for var, _ in env_vars.values():
        monkeypatch.delenv(var, raising=False)
    for var, value in values.items():
        monkeypatch.setenv(var, value)


class TestEtagSkip:
    def test_unchanged_rows_skipped(self, spark):
        docs = spark.createDataFrame(
            [
                ("d1", "u1", 'W/"a"'),   # matches stored etag -> skipped
                ("d2", "u2", 'W/"new"'),  # etag changed -> kept
                ("d3", "u3", None),       # no etag -> kept (must re-fetch)
                ("d4", "u4", 'W/"x"'),    # no stored entry -> kept
            ],
            "doc_id string, url_id string, etag string",
        )
        entries = spark.createDataFrame(
            [("e1", "u1", 'W/"a"'), ("e2", "u2", 'W/"old"'), ("e3", "u3", 'W/"b"')],
            "entry_id string, url_id string, etag string",
        )
        kept = {r["doc_id"] for r in etag_unchanged_skip(docs, entries).collect()}
        assert kept == {"d2", "d3", "d4"}


class TestJobConfigResolution:
    def test_env_wins_over_cli(self, monkeypatch):
        from jobs.extract_job import ENV_VARS, resolve_config

        _set_env(monkeypatch, ENV_VARS, {
            "INPUT_TABLE": "env_in",
            "PAGE_PROFILE_DIRECTORY_PATH": "env_p",
            "RE_ANALYSIS_INTERVAL": "12",
            "TARGET_DATE_TIME_PATTERN": "dd.MM.yyyy",
            "TARGET_TIME_ZONE": "Europe/Berlin",
            "EXTRACT_BUCKETS": "32",
        })
        args = resolve_config(
            ["--input", "cli_in", "--output", "cli_out", "--profiles", "cli_p",
             "--buckets", "8"],
        )
        assert args.input == "env_in"          # env beats CLI
        assert args.output == "cli_out"        # CLI fills the rest
        assert args.profiles == "env_p"
        assert args.reanalysis_hours == 12
        assert args.buckets == 32
        assert args.target_pattern == "dd.MM.yyyy"
        assert args.target_zone == "Europe/Berlin"

    def test_env_alone_suffices(self, monkeypatch):
        from jobs.extract_job import ENV_VARS, resolve_config

        _set_env(monkeypatch, ENV_VARS, {
            "INPUT_TABLE": "t", "OUTPUT_PATH": "o",
            "PAGE_PROFILE_DIRECTORY_PATH": "p",
        })
        args = resolve_config([])
        assert (args.input, args.output, args.profiles) == ("t", "o", "p")
        assert args.reanalysis_hours == 48  # defaults still apply

    def test_falsy_env_value_still_wins(self, monkeypatch):
        from jobs.extract_job import ENV_VARS, resolve_config

        _set_env(monkeypatch, ENV_VARS, {"RE_ANALYSIS_INTERVAL": "0"})
        args = resolve_config(
            ["--input", "i", "--output", "o", "--profiles", "p"]
        )
        assert args.reanalysis_hours == 0  # 0 is valid: re-analyze always

    def test_env_values_are_validated(self, monkeypatch):
        import pytest

        from jobs.extract_job import ENV_VARS, resolve_config

        base = ["--input", "i", "--output", "o", "--profiles", "p"]
        _set_env(monkeypatch, ENV_VARS, {"EXTRACT_MODE": "bogus"})
        with pytest.raises(SystemExit):
            resolve_config(base)
        _set_env(monkeypatch, ENV_VARS, {"RE_ANALYSIS_INTERVAL": "abc"})
        with pytest.raises(SystemExit):
            resolve_config(base)

    def test_missing_required_errors(self, monkeypatch):
        import pytest

        from jobs.extract_job import ENV_VARS, resolve_config

        _set_env(monkeypatch, ENV_VARS, {})
        with pytest.raises(SystemExit):
            resolve_config(["--input", "only_in"])


class TestTargetPatternPlumbing:
    def test_target_pattern_reaches_extraction(self, spark):
        """TARGET_DATE_TIME_PATTERN/TARGET_TIME_ZONE change the date
        output format end-to-end through extract_entries."""
        from content_extractor_spark.kernel.profiles import profile_from_dict
        from content_extractor_spark.operators.extract import extract_entries

        profile = profile_from_dict(
            {"profile": {"hostname": "h.example", "pageTypes": [
                {"name": "article", "selectors": {
                    "title": "h1",
                    "content": "div",
                    "date": {"selector": "time", "attributeVal": "datetime",
                             "format": "yyyy-MM-dd'T'HH:mm:ssX"},
                }}]}}
        )
        html = ("<html><body><h1>T</h1><div>c</div>"
                "<time datetime='2021-07-05T12:30:00Z'>x</time></body></html>")
        docs = spark.createDataFrame(
            [("d1", [{"kind": "text", "text": html, "media_ref": None,
                      "offset": 0}], "h.example", "https://h.example/1",
              "u1", None)],
            "doc_id string, spans array<struct<kind string, text string, "
            "media_ref string, offset int>>, host string, url string, "
            "url_id string, etag string",
        )
        got_default = extract_entries(docs, {"h.example": profile}).collect()[0]
        assert got_default["date"] == "2021-07-05T12:30:00Z"
        got_berlin = extract_entries(
            docs, {"h.example": profile},
            target_pattern="dd.MM.yyyy HH:mm", target_zone="Europe/Berlin",
        ).collect()[0]
        assert got_berlin["date"] == "05.07.2021 14:30"  # UTC+2 in July


class TestJobCli:
    def test_extract_job_end_to_end(self, spark, tmp_path, capsys):
        # input corpus + profile dir on disk, run via the job's main()
        in_dir = str(tmp_path / "docs")
        out_dir = str(tmp_path / "out")
        prof_dir = tmp_path / "profiles"
        prof_dir.mkdir()
        synth.write_documents(spark, in_dir, 80, n_hosts=3, seed=5, partitions=2)
        for i in range(3):
            (prof_dir / f"host{i}.json").write_text(
                json.dumps(synth.make_host_profile(i)), encoding="utf-8"
            )

        from jobs.extract_job import main

        rc = main(
            [
                "--input", in_dir,
                "--output", out_dir,
                "--profiles", str(prof_dir),
                "--buckets", "4",
                "--run-id", "cli-test",
            ]
        )
        assert rc == 0
        printed = capsys.readouterr().out.strip().splitlines()[-1]
        summary = json.loads(printed)
        assert summary["docs_parsed"] > 0 and summary["ok"] > 0
        spans = spark.read.parquet(f"{out_dir}/spans_out")
        assert spans.where("status = 'ok'").count() == summary["ok"]
        ledger = spark.read.parquet(f"{out_dir}/ledger")
        assert ledger.where("status = 'done'").count() == 4

    def test_corrupt_entries_raise_before_any_write(
        self, spark, tmp_path, corrupt_parquet
    ):
        """A corrupt --entries table is not "no entries": the job raises
        before it writes spans or a next entries state, and the table
        stays as it was."""
        in_dir = str(tmp_path / "docs")
        out_dir = tmp_path / "out"
        entries = tmp_path / "entries"
        prof_dir = tmp_path / "profiles"
        prof_dir.mkdir()
        synth.write_documents(spark, in_dir, 20, n_hosts=2, seed=5, partitions=1)
        for i in range(2):
            (prof_dir / f"host{i}.json").write_text(
                json.dumps(synth.make_host_profile(i)), encoding="utf-8"
            )
        spark.createDataFrame(
            [("entry-1", "u1", 'W/"a"')],
            "entry_id string, url_id string, etag string",
        ).write.parquet(str(entries))
        corrupt_parquet(entries)
        before = {f.name: f.read_bytes() for f in entries.iterdir()}

        from jobs.extract_job import main

        with pytest.raises(Exception, match="entries"):
            main([
                "--input", in_dir, "--output", str(out_dir),
                "--profiles", str(prof_dir), "--entries", str(entries),
                "--buckets", "4",
            ])
        assert not (out_dir / "spans_out").exists()
        assert not (out_dir / "entries_next").exists()
        assert {f.name: f.read_bytes() for f in entries.iterdir()} == before


    def test_relative_table_reference_is_a_path(self, spark, tmp_path, monkeypatch):
        """`--input docs` reads the dir `docs` in the working dir, as
        `./docs` does; a name with no such path is a catalog table."""
        from content_extractor_spark.sources.io import read_table

        spark.range(3).write.parquet(str(tmp_path / "docs"))
        spark.range(2).createOrReplaceTempView("docs_view")
        # a tmp working dir, for Python and for the JVM's local filesystem
        # (whose relative paths resolve against its own working dir)
        monkeypatch.chdir(tmp_path)
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
        cwd = fs.getWorkingDirectory()
        fs.setWorkingDirectory(jvm.org.apache.hadoop.fs.Path(str(tmp_path)))
        try:
            assert read_table(spark, "docs").count() == 3
            assert read_table(spark, "docs_view").count() == 2
        finally:
            fs.setWorkingDirectory(cwd)
            spark.catalog.dropTempView("docs_view")

class TestCurateJob:
    def test_env_first_config(self, monkeypatch):
        from jobs.curate_job import ENV_VARS, resolve_config

        _set_env(monkeypatch, ENV_VARS,
                 {"CURATE_INPUT": "env_in", "CURATE_MIN_QUALITY": "0.25"})
        cfg = resolve_config(
            ["--input", "cli_in", "--output", "cli_out",
             "--min-quality", "0.9"]
        )
        assert cfg.input == "env_in"          # env wins
        assert cfg.output == "cli_out"        # cli fills the rest
        assert cfg.min_quality == 0.25

    def test_curation_funnel_end_to_end(self, spark, tmp_path):
        """One doc per drop reason, all counted by the observation
        metrics riding the single write action; survivors come out
        normalized+scrubbed+split."""
        import json as _json

        from jobs.curate_job import resolve_config, run_curation

        rows = []
        for i in range(40):
            body = " ".join(f"w{i}x{j}" for j in range(30))
            rows.append((i, f"the and of to in {body}", "s0"))
        rows.append((100, rows[0][1], "s0"))            # exact dup of 0
        rows.append((101, "the and of to in", "s0"))    # quality (<10 toks)
        rows.append((102, "the spam ham " * 30 + "and of to in", "s0"))
        # format: >90% bulleted lines (Gopher cap)
        rows.append((105, "the and of to in w105\n"
                          + "\n".join(f"- item {j} w105x{j}" for j in range(20)),
                     "s0"))
        rows.append((103, rows[0][1] + " tail", "s0"))  # near dup of 0
        rows.append((104, "der die und das nicht eins zwei drei vier haus"
                          " baum wald fluss berg tal stadt dorf weg", "s1"))
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        bench = spark.createDataFrame([(rows[5][1],)], "text string")
        cfg = resolve_config(
            ["--input", "x", "--output", "y", "--langs", "en",
             "--minhash-perms", "32", "--minhash-bands", "8"]
        )
        out_root = str(tmp_path / "curate")
        m = run_curation(spark, docs, cfg, benchmark=bench,
                         out_root=out_root)
        assert _json.loads(_json.dumps(m))  # metrics are JSON-able
        for reason in ("exact_dup", "quality", "repetition", "format",
                       "lang", "near_dup", "contaminated"):
            assert m[f"drop_{reason}"] == 1, (reason, m)
        out = spark.read.parquet(f"{out_root}/curated")
        assert m["kept"] == out.count() == 39
        assert {"text_norm", "scrubbed", "split", "lang_detected",
                "q_score"} <= set(out.columns)
        # split is deterministic md5, both labels present at 40 docs
        assert {r["split"] for r in out.select("split").distinct().collect()} \
            == {"train", "val"}


class TestWarcExtractJob:
    def test_incremental_archive_to_spans(self, spark, tmp_path):
        """Archives in, spans out, file-ledger resume: run 1 extracts
        both files; run 2 is a no-op; a new archive appends only its
        own documents. Metrics ride the single write action."""
        from content_extractor_spark.kernel.profiles import profile_from_dict
        from content_extractor_spark.kernel.warc import build_warc
        from jobs.warc_extract_job import run_warc_extract

        def pages(lo, n):
            return [
                (f"id-{i}", f"https://www.docs.example/p{i}",
                 (f"<html><body><div id='content-main'>"
                  f"<h1 class='title'>T{i}</h1><p>body {i}</p></div>"
                  f"</body></html>").encode())
                for i in range(lo, lo + n)
            ]

        in_dir = tmp_path / "in"
        out = tmp_path / "out"
        in_dir.mkdir()
        (in_dir / "a.warc.gz").write_bytes(build_warc(pages(0, 5)))
        (in_dir / "b.warc.gz").write_bytes(build_warc(pages(5, 3)))
        profiles = {"www.docs.example": profile_from_dict({"profile": {
            "hostname": "www.docs.example",
            "pageTypes": [{
                "name": "article",
                "condition": {"selector": "div#content-main"},
                "selectors": {"title": "h1.title",
                              "content": "div#content-main"},
            }],
        }})}
        s1 = run_warc_extract(spark, str(in_dir), str(out), profiles)
        assert (s1["files_processed"], s1["docs"], s1["ok"]) == (2, 8, 8)
        assert s1["errors"] == 0 and s1["spans_emitted"] > 0
        s2 = run_warc_extract(spark, str(in_dir), str(out), profiles)
        assert s2["files_processed"] == 0
        (in_dir / "c.warc.gz").write_bytes(build_warc(pages(8, 2)))
        s3 = run_warc_extract(spark, str(in_dir), str(out), profiles)
        assert (s3["files_processed"], s3["docs"]) == (1, 2)
        spans = spark.read.parquet(str(out / "spans"))
        assert spans.count() == 10
        assert spans.where("status = 'ok'").count() == 10

    def test_env_first_config(self, monkeypatch):
        from jobs.warc_extract_job import ENV_VARS, resolve_config

        _set_env(monkeypatch, ENV_VARS,
                 {"WARC_INPUT": "env_in", "WARC_MAX_FILES": "7"})
        cfg = resolve_config(
            ["--input", "cli_in", "--output", "o", "--profiles", "p"]
        )
        assert cfg.input == "env_in" and cfg.max_files == 7

    def test_empty_input_yields_zero_metrics_no_crash(self, spark, tmp_path):
        from jobs.curate_job import resolve_config, run_curation

        docs = spark.createDataFrame(
            [], "doc_id long, text string, source string"
        )
        cfg = resolve_config(["--input", "x", "--output", "y"])
        m = run_curation(spark, docs, cfg,
                         out_root=str(tmp_path / "empty"))
        assert m["total"] == 0 and m["kept"] == 0
        # clean zeros, never NULLs, so the metrics JSON is stable
        assert all(m[f"drop_{r}"] == 0 for r in (
            "lang", "quality", "repetition", "format", "exact_dup",
            "near_dup", "contaminated"))
