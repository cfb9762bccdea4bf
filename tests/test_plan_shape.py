"""Physical-plan shape assertions (SURVEY §4): the plan we want is the
plan Catalyst actually produces."""

import pytest
from pyspark.sql import functions as F

from content_extractor_spark import synth
from content_extractor_spark.operators.extract import extract_entries
from content_extractor_spark.operators.scans import scannable_documents
from content_extractor_spark.plans import plan_report


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan") / "docs")
    synth.write_documents(spark, path, 200, n_hosts=4, seed=3, partitions=2)
    return path


def test_scan_filters_pushed_down(spark, corpus_path):
    docs = scannable_documents(spark.read.parquet(corpus_path))
    rep = plan_report(docs)
    # url IS NOT NULL / != '' reach the parquet source as pushed filters
    assert rep["pushed_filters"], rep["text"][:2000]


def test_column_pruning_reaches_scan(spark, corpus_path):
    df = spark.read.parquet(corpus_path).select("doc_id", "host")
    rep = plan_report(df)
    assert "ReadSchema: struct<doc_id:string,host:string>" in rep["text"]


def test_extraction_is_single_python_stage_no_shuffle(spark, corpus_path):
    docs = scannable_documents(spark.read.parquet(corpus_path))
    out = extract_entries(docs, synth.all_profiles(4))
    rep = plan_report(out)
    assert rep["python_stages"] == 1
    assert rep["exchanges"] == 0  # map-only: no shuffle of raw documents


def test_small_dim_join_broadcasts(spark, corpus_path):
    docs = spark.read.parquet(corpus_path)
    dim = spark.createDataFrame(
        [(f"www.host{i}.example", f"p{i}") for i in range(4)],
        "host string, profile string",
    )
    joined = docs.join(F.broadcast(dim), "host")
    rep = plan_report(joined)
    assert rep["has_broadcast_join"]
    assert not rep["has_sort_merge_join"]


def test_sessionize_plans_single_exchange(spark):
    """Both window steps (lag + running sum) share the user_id
    partitioning — Catalyst must plan exactly one shuffle."""
    from content_extractor_spark.operators.sessionize import sessionize

    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1)], "event_id long, ts string, user_id long"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    rep = plan_report(sessionize(ev))
    assert rep["exchanges"] == 1, rep["text"][:3000]
    assert rep["python_stages"] == 0


def test_top_terms_partial_aggregates_before_shuffle(spark):
    """The token count must emit a map-side partial HashAggregate so the
    shuffle carries (group, token, partial_count), not raw tokens."""
    from content_extractor_spark.operators.textstats import top_terms

    df = spark.createDataFrame(
        [("en", "a b c"), ("de", "x y")], "lang string, text string"
    )
    rep = plan_report(top_terms(df))
    txt = rep["text"]
    assert "partial_count" in txt, txt[:3000]
    assert rep["python_stages"] == 0


def test_bucket_partition_pruning(spark, tmp_path):
    """Reading one bucket of the partitioned spans output must prune to
    that partition directory (PartitionFilters, not a post-scan
    Filter) — the property resume relies on at 10^12 rows."""
    path = str(tmp_path / "parts")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 8).cast("int").alias("bucket")
    )
    df.write.partitionBy("bucket").parquet(path)
    rd = spark.read.parquet(path).where(F.col("bucket") == 3)
    rep = plan_report(rd)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", rep["text"])
    assert m and "bucket" in m.group(1), rep["text"][:2000]
    assert rd.count() == 13  # ids 3, 11, ..., 99


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast: doc shingles then never
    shuffle — the semi join is map-side at any corpus size."""
    from content_extractor_spark.operators.curation import decontaminate

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(9, "a b c d e f g h")], "doc_id long, text string"
    )
    rep = plan_report(decontaminate(docs, bench))
    assert rep["has_broadcast_join"], rep["text"][:3000]


def test_wholestage_codegen_covers_relational_stages(spark, corpus_path):
    docs = scannable_documents(spark.read.parquet(corpus_path))
    rep = plan_report(docs)
    assert rep["wholestage_codegen_spans"] >= 1
    # aggregation plan under AQE: run it, then check the finalized plan
    agg = spark.read.parquet(corpus_path).groupBy("host").agg(F.count("*").alias("n"))
    agg.collect()
    rep2 = plan_report(agg)
    assert rep2["aqe"]
    assert rep2["wholestage_codegen_spans"] >= 1


def test_host_links_map_only_plus_distinct(spark):
    """Anchor extraction must stay pure Catalyst: zero Python stages,
    the only exchange is the final distinct."""
    from content_extractor_spark.operators.linkgraph import extract_host_links

    df = spark.createDataFrame(
        [("a.com", '<a href="https://b.com/x">1</a>')], "host string, html string"
    )
    rep = plan_report(extract_host_links(df))
    assert rep["python_stages"] == 0
    assert rep["exchanges"] == 1


def test_stratified_sample_uncapped_is_map_only(spark):
    from content_extractor_spark.operators.curation import stratified_sample

    df = spark.createDataFrame([(1, "en")], "doc_id int, lang string")
    rep = plan_report(stratified_sample(df, permille=100))
    assert rep["python_stages"] == 0
    assert rep["exchanges"] == 0  # hash predicate fuses into the scan


def test_tfidf_no_cartesian_and_broadcast_scalar(spark):
    from content_extractor_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "en", "a b c"), (2, "en", "a d")], "doc_id int, lang string, text string"
    )
    rep = plan_report(tfidf_top_terms(df))
    assert "CartesianProduct" not in rep["text"]
    # the 1-row N scalar joins as a broadcast nested loop, never a
    # shuffled cartesian
    assert "BroadcastNestedLoopJoin" in rep["text"] or rep["has_broadcast_join"]
    assert rep["python_stages"] == 0


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Bucketing = the co-located-join strategy for repeated big joins
    (SURVEY §2.6): two tables bucketed+sorted on the join key must join
    with ZERO exchanges (no shuffle of either side)."""
    df = spark.range(0, 2000).selectExpr("id AS k", "id % 7 AS v")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("t_bkt_a", "t_bkt_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.bucketBy(8, "k").sortBy("k")
                .option("path", str(tmp_path / name))
                .mode("overwrite")
                .saveAsTable(name)
            )
        joined = spark.table("t_bkt_a").join(
            spark.table("t_bkt_b").withColumnRenamed("v", "v2"), "k"
        )
        rep = plan_report(joined)
        assert rep["exchanges"] == 0, rep["text"][:1500]
        assert joined.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for name in ("t_bkt_a", "t_bkt_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pagerank_iterative_plan_shape(spark, monkeypatch):
    """The PRE-materialization PageRank plan: iterative joins, no
    cartesian product, zero Python stages. pagerank_hosts materializes
    the tiny result, which hides this plan from tools/plan_audit.py —
    so it is pinned here, with materialize() swapped for the identity."""
    from content_extractor_spark.operators import linkgraph

    monkeypatch.setattr(linkgraph, "materialize", lambda df: df)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    out = linkgraph.pagerank_hosts(edges, iterations=2)
    rep = plan_report(out)
    assert "CartesianProduct" not in rep["text"]
    assert rep["python_stages"] == 0
    assert rep["exchanges"] >= 2  # genuinely iterative, not collapsed


def test_materialize_uses_the_checkpoint_dir_when_set(spark, tmp_path):
    """materialize() cuts lineage either way (the optimized plan is a
    LogicalRDD scan); with a checkpoint dir set it writes reliable
    checkpoint files there, without one it writes nothing."""
    from content_extractor_spark.session import materialize

    sc = spark.sparkContext
    old = sc.getCheckpointDir()
    df = spark.range(50, numPartitions=2).selectExpr("id", "id * 3 AS v")
    ck = tmp_path / "ck"
    ck.mkdir()

    def cut_and_files():
        out = materialize(df)
        plan = out._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        assert plan.startswith("LogicalRDD"), plan
        assert sorted(map(tuple, out.collect())) == [(i, 3 * i) for i in range(50)]
        return [p for p in ck.rglob("part-*") if p.is_file()]

    try:
        sc._jsc.sc().setCheckpointDir(None)  # noqa: SLF001
        assert cut_and_files() == []
        sc.setCheckpointDir(str(ck))
        assert cut_and_files()
    finally:
        sc._jsc.sc().setCheckpointDir(old)  # noqa: SLF001
    assert sc.getCheckpointDir() == old


def test_reliable_checkpoint_files_go_once_unreferenced(spark, tmp_path):
    """A reliable checkpoint's rdd-* dir is deleted once nothing
    references the materialized frame (get_spark turns on Spark's
    checkpoint cleaning); otherwise every materialize() call, one per
    round in the iterative operators, would leave its files behind."""
    import gc
    import time

    from content_extractor_spark.session import materialize

    sc = spark.sparkContext
    old = sc.getCheckpointDir()
    ck = tmp_path / "ck"
    ck.mkdir()
    try:
        sc.setCheckpointDir(str(ck))
        out = materialize(spark.range(50, numPartitions=2))
        assert out.count() == 50
        assert list(ck.rglob("rdd-*"))
        del out
        gc.collect()
        deadline = time.monotonic() + 10
        while list(ck.rglob("rdd-*")) and time.monotonic() < deadline:
            sc._jvm.System.gc()  # noqa: SLF001
            time.sleep(0.2)
        assert not list(ck.rglob("rdd-*"))
    finally:
        sc._jsc.sc().setCheckpointDir(old)  # noqa: SLF001
    assert sc.getCheckpointDir() == old


def test_robots_blocked_side_not_force_broadcast(spark):
    """ZERO forced-broadcast hints in the robots filter plan: the
    rules set scales with the HOST population and the blocked-path set
    with the distinct (host, path) corpus — both joins are host-equi,
    so AQE picks broadcast only when a side is actually small."""
    from content_extractor_spark.operators.scans import robots_disallow_filter

    urls = spark.createDataFrame(
        [("a.com", "https://a.com/x"), ("a.com", "https://a.com/y")],
        "host string, url string",
    )
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /x")],
        "host string, robots_txt string",
    )
    out = robots_disallow_filter(urls, robots)
    analyzed = out._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    assert analyzed.count("ResolvedHint") == 0, analyzed[:3000]


def test_chunk_documents_map_only(spark):
    """Token chunking is pure array ops + one explode: zero Python
    stages, zero shuffles — survives any corpus size unchanged."""
    from content_extractor_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id int, text string"
    )
    rep = plan_report(chunk_documents(df, target_tokens=3))
    assert rep["python_stages"] == 0
    assert rep["exchanges"] == 0, rep["text"][:1500]


def test_weighted_source_sample_broadcasts_weights(spark):
    """The per-source keep-rate dim must broadcast — the corpus side
    never shuffles for the mix join."""
    from content_extractor_spark.operators.curation import (
        weighted_source_sample,
    )

    docs = spark.createDataFrame(
        [(1, "s0"), (2, "s1")], "doc_id int, source string"
    )
    weights = spark.createDataFrame(
        [("s0", 1000), ("s1", 500)], "source string, permille int"
    )
    rep = plan_report(weighted_source_sample(docs, weights))
    assert rep["has_broadcast_join"], rep["text"][:1500]
    assert rep["python_stages"] == 0
    assert rep["exchanges"] == 0, rep["text"][:1500]


def test_wat_links_pure_catalyst(spark):
    """WAT envelope parsing must be from_json + explode in the JVM:
    zero Python stages, zero exchanges (map-only until a consumer
    aggregates)."""
    from content_extractor_spark.sources.warc import wat_links

    recs = spark.createDataFrame(
        [("f", "id1", "metadata", "https://a.example/p",
          "2021-07-01T00:00:00Z", 200, "application/json",
          bytearray(b'{"Envelope":{}}'), None)],
        "warc_file string, record_id string, warc_type string, "
        "url string, warc_date string, http_status int, "
        "content_type string, payload binary, error string",
    )
    rep = plan_report(wat_links(recs))
    assert rep["python_stages"] == 0
    assert rep["exchanges"] == 0, rep["text"][:1500]


def test_bigram_logprob_partial_aggs_no_cartesian(spark):
    """The bigram LM must partial-aggregate before every shuffle and
    broadcast only the 1-row vocabulary scalar — no cartesian product
    over data-sized sides."""
    from content_extractor_spark.operators.textstats import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id int, text string"
    )
    rep = plan_report(bigram_logprob(df))
    assert rep["python_stages"] == 0
    # the only nested-loop join is the broadcast of the 1-row scalar
    import re as _re

    cartesians = _re.findall(
        r"^\(\d+\) CartesianProduct", rep["text"], _re.M
    )
    assert not cartesians, rep["text"][:2000]
    assert rep["has_broadcast_join"] or (
        "BroadcastNestedLoopJoin" in rep["text"]
    )


def test_language_id_stays_codegen(spark):
    """r4 regression guard: the 14-language ladder must stay inside
    whole-stage codegen (the old per-marker re-tokenization blew the
    janino method limit and ran the whole corpus scan interpreted)."""
    from content_extractor_spark.operators.textstats import detect_language

    df = spark.createDataFrame(
        [(1, "the and of it all")], "doc_id int, text string"
    )
    out = df.select(detect_language("text").alias("l"))
    rep = plan_report(out)
    assert rep["wholestage_codegen_spans"] >= 1, rep["text"][:1500]


def test_language_id_shared_subexprs_evaluated_once(spark):
    """r7 perf guard: the stacked-projection language ID must keep its
    shared subexpressions (tokenize, trigram window) as materialised
    columns — one eval per row — instead of the Column form's 22x/288x
    inlining (CASE branches defeat Catalyst subexpression
    elimination), and must stay inside whole-stage codegen."""
    from content_extractor_spark.operators.textstats import (
        with_detected_language,
    )

    df = spark.createDataFrame(
        [(1, "the and of it all")], "doc_id int, text string"
    )
    out = with_detected_language(df).select("lang_detected")
    rep = plan_report(out)
    assert rep["wholestage_codegen_spans"] >= 1, rep["text"][:1500]
    # trigram window: once in its own Project, not once per contains
    assert rep["text"].count("lower(substring") <= 2, (
        rep["text"].count("lower(substring")
    )
    # tokenize: one array_distinct eval feeding the marker argmax
    assert rep["text"].count("array_distinct") <= 2, (
        rep["text"].count("array_distinct")
    )


def test_pq_encode_and_adc_map_only(spark):
    """PQ encoding and ADC scoring must be map-only over literal
    codebooks/tables: zero Python stages, zero exchanges — the scan
    IS the search at any corpus size."""
    from content_extractor_spark.operators.similarity import (
        pq_adc_distances,
        pq_encode,
    )

    df = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.9] * 8)],
        "vec_id long, embedding array<float>",
    )
    books = [[[0.0] * 4, [1.0] * 4]] * 2
    codes = pq_encode(df, books)
    rep = plan_report(codes)
    assert rep["python_stages"] == 0
    assert rep["exchanges"] == 0, rep["text"][:1200]
    rep2 = plan_report(pq_adc_distances(codes, books, [0.5] * 8))
    assert rep2["python_stages"] == 0
    assert rep2["exchanges"] == 0, rep2["text"][:1200]
