"""End-to-end pipeline tests: span-for-span equality vs the kernel,
resume-from-ledger, metrics, and the relational tail on Spark."""

import pytest
from pyspark.sql import functions as F

from content_extractor_spark import synth
from content_extractor_spark.kernel.analyzer import analyze
from content_extractor_spark.kernel.spans import entry_to_spans, spans_to_html
from content_extractor_spark.operators.extract import extract_entries
from content_extractor_spark.operators.scans import (
    file_ending_exclusion,
    is_new,
    needs_reanalysis,
)
from content_extractor_spark.pipeline import PipelineConfig, run_extraction

N_DOCS = 240
N_HOSTS = 8
#: Py4J round trips per run_extraction call, with headroom: measured at
#: 310 on a fresh output and 490-560 with existing entries (the
#: Column-API builders made 3,364 and 5,021)
FRESH_TRIPS = 450
RECRAWL_TRIPS = 800


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth.documents_df(spark, N_DOCS, n_hosts=N_HOSTS, seed=7, partitions=4)
    df.cache()
    assert df.count() == N_DOCS
    return df


@pytest.fixture(scope="module")
def profiles():
    return synth.all_profiles(N_HOSTS)


def test_extract_matches_kernel_row_for_row(spark, corpus, profiles):
    """Pipeline output spans must equal the kernel's spans per document."""
    out = extract_entries(corpus, profiles)
    got = {r["doc_id"]: r for r in out.collect()}
    rows = corpus.collect()
    assert len(got) == len(rows)
    checked_ok = 0
    for row in rows:
        d = row.asDict(recursive=True)
        res = analyze(
            d["url"], spans_to_html(d["spans"]),
            profiles.get(d["host"].replace("www.", "www.")) or profiles.get(d["host"]),
            d["etag"],
        ) if d["host"] in profiles else None
        g = got[d["doc_id"]]
        if res is None:
            assert g["status"] == "profile_miss"
            continue
        assert g["status"] == res.status, d["doc_id"]
        if res.status == "ok":
            expected_spans = entry_to_spans(res.entry)
            actual = [s.asDict() for s in (g["spans"] or [])]
            assert actual == expected_spans, d["doc_id"]
            assert g["content_hash"] == res.entry.content_hash()
            checked_ok += 1
    assert checked_ok > N_DOCS // 2  # most docs extract successfully


def test_status_mix_present(spark, corpus, profiles):
    out = extract_entries(corpus, profiles)
    counts = dict(
        out.groupBy("status").count().collect()
    )
    counts = {r: c for r, c in [(row["status"], row["count"]) for row in out.groupBy("status").count().collect()]}
    assert counts.get("ok", 0) > 0
    assert counts.get("profile_miss", 0) > 0  # unknown hosts in corpus


def test_scan_filters(spark, corpus):
    base = corpus.count()
    kept = corpus.filter(file_ending_exclusion()).count()
    assert 0 < kept < base  # some .pdf/.jpg urls excluded
    new = corpus.filter(is_new()).count()
    existing = corpus.filter(needs_reanalysis("2021-07-01T00:00:00Z", 48)).count()
    assert new + existing == base  # two-phase split covers the corpus


def test_full_pipeline_with_resume(spark, corpus, profiles, tmp_path):
    out_dir = str(tmp_path / "out")
    cfg = PipelineConfig(num_buckets=8, mode="all", run_id="r1")
    s1 = run_extraction(spark, corpus, profiles, out_dir, cfg)
    assert s1["docs_parsed"] > 0
    assert s1["ok"] > 0
    assert s1["spans_emitted"] > 0
    assert s1["resumed_buckets"] == 0
    total_first = s1["docs_parsed"]

    # resume: second run must find the ledger complete and add nothing
    s2 = run_extraction(
        spark, corpus, profiles, out_dir, PipelineConfig(num_buckets=8, run_id="r2")
    )
    assert s2["resumed_buckets"] == 8
    assert s2["docs_parsed"] == total_first  # no dup, no loss
    # nothing left to do: the summary is the first run's totals, read
    # back from the ledgered buckets
    assert _totals(s2) == _totals(s1)

    spans_out = spark.read.parquet(f"{out_dir}/spans_out")
    assert spans_out.count() == total_first
    assert spans_out.select("doc_id").distinct().count() == total_first


def test_partial_ledger_resume_no_dup_no_loss(spark, corpus, profiles, tmp_path):
    """Simulate a crash after k buckets: pre-seed a partial ledger, run,
    verify every doc appears exactly once."""
    out_dir = str(tmp_path / "out2")
    cfg = PipelineConfig(num_buckets=8, run_id="full")
    run_extraction(spark, corpus, profiles, out_dir, cfg)
    full = spark.read.parquet(f"{out_dir}/spans_out")
    full_ids = {r["doc_id"] for r in full.select("doc_id").collect()}

    # new output dir with a fake partial state: keep buckets 0-3 only
    out_dir2 = str(tmp_path / "out3")
    partial = full.where(F.col("bucket") < 4)
    partial.write.partitionBy("bucket").parquet(f"{out_dir2}/spans_out")
    spark.createDataFrame(
        [(b, "done", "crashed-run") for b in range(4)], "bucket int, status string, run_id string"
    ).write.parquet(f"{out_dir2}/ledger")

    s = run_extraction(
        spark, corpus, profiles, out_dir2, PipelineConfig(num_buckets=8, run_id="resume")
    )
    assert s["resumed_buckets"] == 4
    assert s["docs_parsed"] == len(full_ids)  # prior buckets + this run's
    resumed = spark.read.parquet(f"{out_dir2}/spans_out")
    resumed_ids = [r["doc_id"] for r in resumed.select("doc_id").collect()]
    assert len(resumed_ids) == len(set(resumed_ids))  # no dups
    assert set(resumed_ids) == full_ids  # no loss


def _totals(summary):
    return {k: v for k, v in summary.items() if k not in ("wall_sec", "resumed_buckets")}


def _on_disk(spark, out_dir):
    """The summary's totals, recounted from the rows in spans_out."""
    row = spark.read.parquet(f"{out_dir}/spans_out").agg(
        F.count("*").alias("docs_parsed"),
        F.sum("n_spans").alias("spans_emitted"),
        *[F.sum((F.col("status") == s).cast("long")).alias(k) for k, s in (
            ("ok", "ok"), ("profile_miss", "profile_miss"),
            ("no_title", "no_title"), ("errors", "error"))],
        F.sum(F.col("disabled").cast("long")).alias("disabled_dups"),
    ).first()
    return {k: v or 0 for k, v in row.asDict().items()}


def test_crash_before_ledger_commit_counts_once(spark, corpus, profiles, tmp_path):
    """A run that wrote spans_out but died before its ledger commit: the
    resume re-does the unledgered bucket, and the summary counts it
    once — it equals the rows on disk and a clean run's totals."""
    out_dir = str(tmp_path / "crash")
    clean = run_extraction(
        spark, corpus, profiles, out_dir, PipelineConfig(num_buckets=8, run_id="r1")
    )
    ledger = f"{out_dir}/ledger"
    rows = spark.read.parquet(ledger).where(F.col("bucket") != 7).collect()
    spark.createDataFrame(rows, "bucket int, status string, run_id string").write.mode(
        "overwrite").parquet(ledger)

    s = run_extraction(
        spark, corpus, profiles, out_dir, PipelineConfig(num_buckets=8, run_id="r2")
    )
    assert s["resumed_buckets"] == 7
    assert _totals(s) == _on_disk(spark, out_dir)
    assert _totals(s) == _totals(clean)  # no self-match against bucket 7's old rows


@pytest.mark.parametrize("part", ["ledger", "spans_out"])
def test_corrupt_prior_state_raises(
    spark, corpus, profiles, tmp_path, part, corrupt_parquet
):
    """Only an absent or empty dir means "no prior state": corrupt files
    must fail the run, not turn into a full re-run or a skipped dedup."""
    out_dir = tmp_path / "corrupt"
    cfg = PipelineConfig(num_buckets=8, run_id="r1")
    run_extraction(spark, corpus, profiles, str(out_dir), cfg)
    corrupt_parquet(out_dir / part)
    with pytest.raises(Exception, match=part):
        run_extraction(spark, corpus, profiles, str(out_dir), cfg)


def test_read_prior_absent_path_skips_the_reader(spark, tmp_path, monkeypatch):
    """An absent path is "no prior state" without the reader ever being
    asked (which would log a FileNotFoundException trace); an empty dir
    reads by its declared schema as an empty frame."""
    from pyspark.sql.readwriter import DataFrameReader

    from content_extractor_spark.sources.io import read_prior

    (tmp_path / "empty").mkdir()
    empty = read_prior(spark, str(tmp_path / "empty"), "bucket int, status string")
    assert empty.columns == ["bucket", "status"]
    assert empty.collect() == []

    def refuse(self, *paths, **kw):
        raise AssertionError(f"parquet reader called for {paths}")

    monkeypatch.setattr(DataFrameReader, "parquet", refuse)
    assert read_prior(spark, str(tmp_path / "absent"), "bucket int") is None


ENTRIES_DDL = (
    "entry_id string, url_id string, title string, summary string, "
    "content string, date string, tags array<string>, etag string, "
    "image_url string, content_hash long, disabled boolean"
)


@pytest.fixture(scope="module")
def entries(spark, corpus, tmp_path_factory):
    """An entries table on disk: stale copies of a third of the corpus's
    urls (so a run plans creates, updates and skips) plus one url the
    corpus does not have."""
    path = str(tmp_path_factory.mktemp("entries") / "entries")
    rows = [
        (f"entry-{r['url_id']}", r["url_id"], "stale title", None, None, None,
         None, None, None, i, False)
        for i, r in enumerate(corpus.select("url_id").orderBy("url_id").collect()[::3])
    ]
    rows.append(("entry-gone", "gone", "t", None, None, None, ["a"], None, None, -1, False))
    spark.createDataFrame(rows, ENTRIES_DDL).write.parquet(path)
    return spark.read.parquet(path)


def test_zero_row_input_summary(spark, corpus, profiles, tmp_path):
    out_dir = tmp_path / "empty"
    s = run_extraction(
        spark, corpus.where(F.lit(False)), profiles, str(out_dir),
        PipelineConfig(num_buckets=8, run_id="e"),
    )
    totals = _totals(s)
    assert totals == dict.fromkeys(totals, 0)
    assert all(type(v) is int for v in totals.values()), totals
    assert s["resumed_buckets"] == 0
    assert not (out_dir / "ledger").exists()


def test_zero_row_input_with_entries_writes_them_unchanged(
    spark, corpus, profiles, entries, tmp_path
):
    """Zero input rows with existing entries: the empty spans_out reads,
    by its declared schema, as an empty frame, so entries_next is still
    written, as the entries unchanged (the write-only columns added as
    nulls), and no action is counted."""
    out_dir = tmp_path / "empty-entries"
    s = run_extraction(
        spark, corpus.where(F.lit(False)), profiles, str(out_dir),
        PipelineConfig(num_buckets=8, run_id="e"), existing_entries=entries,
    )
    assert s["actions"] == {}
    assert not (out_dir / "ledger").exists()
    nxt = spark.read.parquet(str(out_dir / "entries_next"))
    write_only = ["next_crawl", "updated_at", "has_been_tagged"]
    assert nxt.columns == entries.columns + write_only
    assert sorted(nxt.drop(*write_only).collect()) == sorted(entries.collect())
    assert nxt.where(" OR ".join(f"{c} IS NOT NULL" for c in write_only)).count() == 0


def _jobs_of(spark, group, call):
    """Run `call` under a job group. Returns the descriptions of its jobs
    and the ids of those run outside any SQL execution, as the jobs that
    infer a schema from parquet footers are."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    sc.setJobGroup(group, "caller description")
    try:
        call()
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc.listenerBus().waitUntilEmpty(30000)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    labels = [str(jsc.statusStore().job(j).description().get()) for j in jobs]
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    sql = spark._jsparkSession.sharedState().statusStore()
    in_sql = {int(j) for e in conv.asJava(sql.executionsList())
              for j in conv.asJava(e.jobs()).keySet()}
    return labels, [j for j in jobs if j not in in_sql]


def test_fresh_run_jobs_are_few_and_labelled(spark, corpus, profiles, tmp_path):
    """The run totals ride the spans_out write: a fresh output costs the
    write's jobs plus the ledger commit. Every job names its stage, and
    the caller's job description is restored afterwards."""
    labels, _ = _jobs_of(spark, "fresh-run-job-count", lambda: run_extraction(
        spark, corpus, profiles, str(tmp_path / "jobs"),
        PipelineConfig(num_buckets=8, run_id="jobs"),
    ))
    assert 0 < len(labels) <= 6, len(labels)
    assert all(d.startswith("run_extraction: ") for d in labels), labels


def test_with_entries_jobs_are_labelled_and_infer_no_schema(
    spark, corpus, profiles, entries, tmp_path
):
    """With existing entries, on a fresh output and on its resume: every
    job names its stage, and no job infers a schema. The pipeline reads
    its own outputs (the ledger, and spans_out for the resume totals and
    for entries_next) by their declared schemas. The entries_next leg
    reads the planned actions once."""
    out = str(tmp_path / "jobs-entries")
    for group, most in (("entries-fresh", 10), ("entries-resume", 12)):
        labels, footer_jobs = _jobs_of(spark, group, lambda: run_extraction(
            spark, corpus, profiles, out,
            PipelineConfig(num_buckets=8, run_id="jobs"), existing_entries=entries,
        ))
        assert footer_jobs == [], (group, labels)
        assert 0 < len(labels) <= most, (group, labels)
        assert all(d.startswith("run_extraction: ") for d in labels), labels


def test_py4j_round_trips_per_call(
    spark, corpus, profiles, entries, tmp_path, py4j_round_trips
):
    """The hot expressions are built as SQL text, one Py4J round trip
    each, and the planned actions are built once: a fresh call and a
    call with existing entries stay within FRESH_TRIPS and RECRAWL_TRIPS."""
    cfg = PipelineConfig(num_buckets=8, run_id="trips")
    run_extraction(spark, corpus, profiles, str(tmp_path / "warm"), cfg)
    with py4j_round_trips() as fresh:
        run_extraction(spark, corpus, profiles, str(tmp_path / "fresh"), cfg)
    with py4j_round_trips() as recrawl:
        run_extraction(spark, corpus, profiles, str(tmp_path / "recrawl"), cfg,
                       existing_entries=entries)
    assert fresh["n"] <= FRESH_TRIPS, fresh
    assert recrawl["n"] <= RECRAWL_TRIPS, recrawl
