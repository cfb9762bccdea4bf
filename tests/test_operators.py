"""Operator unit tests on Spark: dedup families, change detection,
tag upsert, similarity, text stats, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from content_extractor_spark.operators.changes import plan_actions
from content_extractor_spark.operators.dedup import mark_duplicates
from content_extractor_spark.operators.dedup_families import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from content_extractor_spark.operators.multimodal import (
    channel_means,
    decode_pixels,
    extract_image_features,
    luma,
)
from content_extractor_spark.operators.similarity import cosine_topk, lsh_topk
from content_extractor_spark.operators.tags import (
    connect_entries_to_tags,
    new_tags,
    distinct_scraped_tags,
    upsert_tag_dim,
)
from content_extractor_spark.operators.textstats import (
    detect_language,
    quality_features,
    token_count_bpe,
    token_count_ws,
)


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (3, "der schnelle braune fuchs springt und das ist nicht alles hier"),
        (4, "completely different content about spark shuffles and partitions in detail"),
        (5, "le chat noir et la maison des amis les plus proches du quartier"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _pixel_stats(data):
    """(fmt, width, height, channels, channel means) of one payload
    through the single pixel decoder, or None when unsupported."""
    dec = decode_pixels(data)
    return dec and (*dec[:4], channel_means(*dec[1:]))


class TestDedupFamilies:

    def test_minhash_identical_pair_found(self, spark, texts):
        pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(texts, num_perm=16).collect()}
        assert (1, 2) in pairs

    def test_checkpoint_banded_stores_no_rank_column(self, spark, texts):
        """The bucket-cap rank is a filter helper: the materialized
        banded frame holds only (id, band_idx, band_hash)."""
        pairs = minhash_lsh_pairs(texts, num_perm=16)
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        stored = [ln for ln in plan.splitlines() if "LogicalRDD" in ln]
        assert stored, plan
        assert all("_rn" not in ln for ln in stored), stored

    def test_simhash_identical_texts_equal(self, spark, texts):
        sigs = dict(
            texts.select("doc_id", simhash("text", 16).alias("s")).collect()
        )
        assert sigs[1] == sigs[2]
        assert sigs[1] != sigs[4]

    def test_simhash_hamming_pairs(self, spark, texts):
        from content_extractor_spark.operators.dedup_families import (
            simhash_hamming_pairs,
        )

        pairs = {
            (r["a"], r["b"]): r["hamming"]
            for r in simhash_hamming_pairs(
                texts, bits=16, bands=4, max_hamming=3
            ).collect()
        }
        assert pairs.get((1, 2)) == 0  # identical texts -> distance 0
        # every reported pair respects the bound
        assert all(h <= 3 for h in pairs.values())
        # pigeonhole guard: banding can't certify beyond bands-1 flips
        with pytest.raises(ValueError, match="bands"):
            simhash_hamming_pairs(texts, bands=4, max_hamming=4)

    def test_ngram_jaccard(self, spark, texts):
        pairs = ngram_jaccard_pairs(texts, k=3, threshold=0.9).collect()
        assert [(p["a"], p["b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


class TestContentHashDedup:
    def test_mark_duplicates_window(self, spark):
        df = spark.createDataFrame(
            [("d1", 100), ("d2", 100), ("d3", 200), ("d4", None)],
            "doc_id string, content_hash long",
        )
        out = {r["doc_id"]: r["disabled"] for r in mark_duplicates(df).collect()}
        assert out == {"d1": False, "d2": True, "d3": False, "d4": None}

    def test_existing_entries_disable(self, spark):
        df = spark.createDataFrame(
            [("d1", 100), ("d2", 300)], "doc_id string, content_hash long"
        )
        existing = spark.createDataFrame(
            [("e1", 100, False)], "entry_id string, content_hash long, disabled boolean"
        )
        out = {r["doc_id"]: r["disabled"] for r in mark_duplicates(df, existing).collect()}
        assert out == {"d1": True, "d2": False}


class TestChanges:
    def test_plan_actions(self, spark):
        extracted = spark.createDataFrame(
            [
                ("u1", "t1", "s", "c", "d", ["a"], "ok"),     # unchanged -> skip
                ("u2", "t2x", "s", "c", "d", ["a"], "ok"),    # title changed -> update
                ("u3", "t3", "s", "c", "d", ["a", "b"], "ok"),# tags changed -> update
                ("u4", "t4", None, None, None, None, "ok"),   # no existing -> create
                ("u5", None, None, None, None, None, "no_title"),  # error
            ],
            "url_id string, title string, summary string, content string, "
            "date string, tags array<string>, status string",
        )
        existing = spark.createDataFrame(
            [
                ("e1", "u1", "t1", "s", "c", "d", ["a"]),
                ("e2", "u2", "t2", "s", "c", "d", ["a"]),
                ("e3", "u3", "t3", "s", "c", "d", ["b", "a"]),
            ],
            "entry_id string, url_id string, title string, summary string, "
            "content string, date string, tags array<string>",
        )
        out = {r["url_id"]: r["action"] for r in plan_actions(extracted, existing).collect()}
        # tags compare is order-insensitive: ["a","b"] vs ["b","a"] is NOT a change
        assert out == {
            "u1": "skip", "u2": "update", "u3": "skip", "u4": "create", "u5": "error",
        }

    def _tags_fixture(self, spark):
        """Rows differ ONLY in tags (content fields identical)."""
        extracted = spark.createDataFrame(
            [
                ("u1", ["a", "c"]),   # equal size, different membership
                ("u2", ["a", "b"]),   # tag added
                ("u3", ["a"]),        # tag removed
                ("u4", ["a"]),        # existing has no tags
                ("u5", None),         # scraped none, existing has tags
                ("u6", None),         # scraped none, existing empty
            ],
            "url_id string, tags array<string>",
        ).select(
            "url_id", F.lit("t").alias("title"), F.lit("s").alias("summary"),
            F.lit("c").alias("content"), F.lit("d").alias("date"), "tags",
            F.lit("ok").alias("status"),
        )
        existing = spark.createDataFrame(
            [
                ("e1", "u1", ["a", "b"]),
                ("e2", "u2", ["a"]),
                ("e3", "u3", ["a", "b"]),
                ("e4", "u4", None),
                ("e5", "u5", ["a"]),
                ("e6", "u6", []),
            ],
            "entry_id string, url_id string, tags array<string>",
        ).select(
            "entry_id", "url_id", F.lit("t").alias("title"),
            F.lit("s").alias("summary"), F.lit("c").alias("content"),
            F.lit("d").alias("date"), "tags",
        )
        return extracted, existing

    def test_tags_quirk_faithful(self, spark):
        """A4 replicated literally (UrlHandler.scala:375-397): changed
        only when sizes differ AND some scraped tag is missing from the
        existing set — so equal-size membership changes AND pure tag
        removals are both treated as unchanged."""
        extracted, existing = self._tags_fixture(spark)
        out = {r["url_id"]: r["action"] for r in plan_actions(extracted, existing).collect()}
        assert out == {
            "u1": "skip",    # equal sizes -> quirk says unchanged
            "u2": "update",  # sizes differ + 'b' missing
            "u3": "skip",    # sizes differ but all scraped tags known
            "u4": "update",  # no existing tags, scraped non-empty
            "u5": "update",  # scraped none, existing non-empty
            "u6": "skip",    # scraped none, existing empty
        }


class TestProfileDispatch:
    def test_containment_fallback_not_poisoned_by_first_row(self, spark):
        """Fallback profile matching keys on the url HOST
        (hostUrl.contains(host), ExtractionSupervisor.scala:367-369).
        Regression: the per-host memo used to be filled from a
        predicate on the first row's full URL, so one row could poison
        every later same-host row in the batch."""
        from content_extractor_spark.kernel.profiles import profile_from_dict
        from content_extractor_spark.operators.extract import extract_entries

        profile = profile_from_dict(
            {"profile": {"hostname": "www.news.example", "pageTypes": [
                {"name": "article",
                 "condition": {"selector": "div#content-main"},
                 "selectors": {"title": "h1.title",
                               "content": "div#content-main"}}]}}
        )
        html = ("<html><body><div id='content-main'>"
                "<h1 class='title'>T</h1>x</div></body></html>")
        span = [{"kind": "text", "text": html, "media_ref": None, "offset": 0}]
        rows = [
            # url does NOT contain the profile key; host matches by
            # containment ("news.example" in "www.news.example")
            ("d1", span, "news.example", "https://short.link/1", "u1", None),
            ("d2", span, "news.example", "https://www.news.example/a/2", "u2", None),
            ("d3", span, "other.example", "https://other.example/3", "u3", None),
        ]
        docs = spark.createDataFrame(
            rows,
            "doc_id string, spans array<struct<kind string, text string, "
            "media_ref string, offset int>>, host string, url string, "
            "url_id string, etag string",
        ).coalesce(1)  # one batch -> exercises the shared memo
        out = {
            r["doc_id"]: r["status"]
            for r in extract_entries(docs, {"www.news.example": profile}).collect()
        }
        assert out == {"d1": "ok", "d2": "ok", "d3": "profile_miss"}


class TestTags:
    def test_upsert_and_connect(self, spark):
        extracted = spark.createDataFrame(
            [("d1", ["Politik", "umwelt"]), ("d2", ["UMWELT", "neu"]), ("d3", None)],
            "doc_id string, tags array<string>",
        )
        dim = spark.createDataFrame(
            [("t1", "Umwelt")], "tag_id string, name string"
        )
        scraped = distinct_scraped_tags(extracted)
        assert scraped.count() == 3  # politik, umwelt, neu (ci-distinct)
        created = new_tags(scraped, dim)
        names = sorted(r["name"] for r in created.collect())
        assert names == ["Politik", "neu"]  # umwelt exists case-insensitively
        full = upsert_tag_dim(extracted, dim)
        assert full.count() == 3
        conn = {r["doc_id"]: r["tag_ids"] for r in connect_entries_to_tags(extracted, full).collect()}
        assert len(conn["d1"]) == 2 and len(conn["d2"]) == 2
        assert "d3" not in conn  # no tags -> no connection row


class TestSimilarity:
    def test_pq_encode_adc_roundtrip(self, spark):
        """Product quantization sanity on a separable corpus: two tight
        clusters must get distinct code words in every subspace, the
        codebooks must be deterministic across retrains, and a query
        placed AT one cluster must ADC-rank that cluster's vectors
        strictly closer than the other's."""
        from content_extractor_spark.operators.similarity import (
            pq_adc_distances,
            pq_encode,
            pq_train_codebooks,
        )

        # cluster A around +1, cluster B around -1, dim 8
        rows = []
        for i in range(10):
            rows.append((i, [1.0 + (i % 3) * 0.01] * 8))
            rows.append((100 + i, [-1.0 - (i % 3) * 0.01] * 8))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        books = pq_train_codebooks(df, dim=8, m=2, k=2, iterations=1)
        assert books == pq_train_codebooks(df, dim=8, m=2, k=2,
                                           iterations=1)
        assert len(books) == 2 and all(len(b) == 2 for b in books)
        encoded = pq_encode(df, books)
        codes = {r["vec_id"]: tuple(r["codes"]) for r in encoded.collect()}
        a_codes = {codes[i] for i in range(10)}
        b_codes = {codes[100 + i] for i in range(10)}
        assert len(a_codes) == 1 and len(b_codes) == 1
        assert a_codes != b_codes
        dist = {
            r["vec_id"]: r["adc_dist"]
            for r in pq_adc_distances(encoded, books, [1.0] * 8).collect()
        }
        assert max(dist[i] for i in range(10)) < min(
            dist[100 + i] for i in range(10)
        )

    def test_cosine_topk_self_best(self, spark):
        import random

        rng = random.Random(1)
        corpus = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
        cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
        qdf = spark.createDataFrame(
            [(i, v) for i, v in corpus[:3]], "query_id long, q_embedding array<float>"
        )
        top = cosine_topk(qdf, cdf, k=1)
        got = {r["query_id"]: (r["vec_id"], r["cos"]) for r in top.collect()}
        for q, (v, c) in got.items():
            assert v == q and c == 1.0  # identical vector is its own top-1

    def test_lsh_topk_finds_identical(self, spark):
        import random

        rng = random.Random(2)
        corpus = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
        cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
        qdf = spark.createDataFrame(
            [(i, v) for i, v in corpus[:3]], "query_id long, q_embedding array<float>"
        )
        top1 = {
            r["query_id"]: r["vec_id"]
            for r in lsh_topk(qdf, cdf, dim=8, k=1, nbits=2).collect()
        }
        for q, v in top1.items():
            assert v == q  # identical vector shares the bucket by construction

    def test_cosine_topk_guard_rejects_unbounded_corpus(self, spark):
        cdf = spark.range(50).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.rand(seed=7) for _ in range(4)]).alias("embedding"),
        )
        qdf = cdf.limit(1).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )
        with pytest.raises(ValueError, match="cross join"):
            cosine_topk(qdf, cdf, k=1, max_corpus_rows=10)
        # explicit opt-in still works
        assert cosine_topk(
            qdf, cdf, k=1, max_corpus_rows=10, allow_full_scan=True
        ).count() == 1

    def test_lsh_multiprobe_recall_superset(self, spark):
        import random

        rng = random.Random(3)
        corpus = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
        cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
        qdf = spark.createDataFrame(
            [(i, v) for i, v in corpus[:4]], "query_id long, q_embedding array<float>"
        )
        base = lsh_topk(qdf, cdf, dim=8, k=60, nbits=3).count()
        probed = lsh_topk(qdf, cdf, dim=8, k=60, nbits=3, probes=3).count()
        # probing Hamming-1 buckets can only ADD candidates
        assert probed >= base
        # no candidate pair is ever duplicated by probing
        mp = lsh_topk(qdf, cdf, dim=8, k=60, nbits=3, probes=3)
        assert mp.count() == mp.select("query_id", "vec_id").distinct().count()

    def test_lsh_multiprobe_recall_lift_vs_bruteforce(self, spark):
        """Multi-probe must RECOVER true neighbors that bucket splits
        hide — recall@5 against the brute-force baseline strictly
        improves with probes on a corpus where buckets split
        near-neighbors (measured on this seeded corpus: 0.10 at
        probes=0 vs 0.45 at probes=4)."""
        import random

        rng = random.Random(11)
        corpus = [
            (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(500)
        ]
        cdf = spark.createDataFrame(
            corpus, "vec_id long, embedding array<float>"
        ).cache()
        qdf = spark.createDataFrame(
            [(i, v) for i, v in corpus[:8]],
            "query_id long, q_embedding array<float>",
        )
        corpus_only = cdf.where(F.col("vec_id") >= 8)
        truth = {}
        for r in cosine_topk(
            qdf, corpus_only, k=5, round_to=6, corpus_rows=1000
        ).collect():
            truth.setdefault(r["query_id"], set()).add(r["vec_id"])

        def recall(probes):
            got = {}
            for r in lsh_topk(
                qdf, corpus_only, dim=64, k=5, nbits=4, round_to=6,
                probes=probes,
            ).collect():
                got.setdefault(r["query_id"], set()).add(r["vec_id"])
            hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
            return hits / sum(len(v) for v in truth.values())

        r0, r4 = recall(0), recall(4)
        cdf.unpersist()
        assert r4 > r0, (r0, r4)

    def test_lsh_probe_levels_matches_two_call_union(self, spark):
        """The fused probes=0+probes=N frame must be row- and dtype-
        identical to the two independent lsh_topk calls it replaces,
        and its plan must carry ONE bucket join and ONE Window node
        (both ranks share the sort) vs the union form's two of each."""
        import random

        from content_extractor_spark.operators.similarity import (
            lsh_topk_probe_levels,
        )

        rng = random.Random(17)
        corpus = [
            (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)
        ]
        cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
        qdf = spark.createDataFrame(
            [(i, v) for i, v in corpus[:6]],
            "query_id long, q_embedding array<float>",
        )
        fused = lsh_topk_probe_levels(
            qdf, cdf, dim=16, k=5, nbits=4, round_to=3, probes=4
        )
        single = lsh_topk(qdf, cdf, dim=16, k=5, nbits=4, round_to=3).select(
            F.lit(0).alias("probes"), "*"
        )
        multi = lsh_topk(
            qdf, cdf, dim=16, k=5, nbits=4, round_to=3, probes=4
        ).select(F.lit(4).alias("probes"), "*")
        reference = single.unionByName(multi)
        assert fused.schema == reference.schema
        key = lambda r: (r["probes"], r["query_id"], r["vec_id"], r["cos"], r["rank"])
        assert sorted(map(key, fused.collect())) == sorted(
            map(key, reference.collect())
        )
        import re

        plan = fused._sc._jvm.PythonSQLUtils.explainString(
            fused._jdf.queryExecution(), "formatted"
        )
        # node-header lines of the final plan only (AQE repeats the
        # tree under "== Initial Plan ==" and in per-node detail blocks)
        final = plan.split("== Initial Plan ==")[0]
        assert len(re.findall(r"Window \(\d+\)", final)) == 1, plan
        assert len(re.findall(r"\w*Join\b[^\n(]*\(\d+\)", final)) == 1, plan


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        from content_extractor_spark.operators.sessionize import (
            session_stats,
            sessionize,
        )

        rows = [
            (1, "2024-01-01 10:00:00", 1),
            (2, "2024-01-01 10:10:00", 1),   # 10 min -> same session
            (3, "2024-01-01 11:00:00", 1),   # 50 min -> new session
            (4, "2024-01-01 11:29:00", 1),   # 29 min -> same
            (5, "2024-01-01 10:00:00", 2),   # other user: own numbering
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long"
        ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
        got = {
            r["event_id"]: r["session_idx"]
            for r in sessionize(ev, gap_minutes=30).collect()
        }
        assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}
        stats = {
            (r["user_id"], r["session_idx"]): r["n_events"]
            for r in session_stats(ev, gap_minutes=30).collect()
        }
        assert stats == {(1, 1): 2, (1, 2): 2, (2, 1): 1}


class TestRepetitionAndTerms:
    def test_repetition_features(self, spark):
        from content_extractor_spark.operators.textstats import repetition_features

        df = spark.createDataFrame(
            [
                (1, "a b c a b c a b c"),   # "a b c" repeats heavily
                (2, "w x y z q r s t u"),   # all 3-grams unique
                (3, "one two"),             # shorter than n -> zeros
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in repetition_features(df, n=3).collect()}
        assert out[1]["n_ngrams"] == 7
        assert out[1]["dup_ngram_char_frac"] > 0.9   # near-total repetition
        assert out[2]["dup_ngram_char_frac"] == 0.0
        assert out[2]["n_ngrams"] == 7
        assert out[3]["n_ngrams"] == 0
        assert out[3]["top_ngram_char_frac"] == 0.0

    def test_top_terms(self, spark):
        from content_extractor_spark.operators.textstats import top_terms

        df = spark.createDataFrame(
            [("en", "a a a b b c"), ("en", "b d"), ("de", "x y x")],
            "lang string, text string",
        )
        got = [
            (r["lang"], r["token"], r["n"], r["rank"])
            for r in top_terms(df, k=2).orderBy("lang", "rank").collect()
        ]
        assert got == [
            ("de", "x", 2, 1), ("de", "y", 1, 2),
            ("en", "a", 3, 1), ("en", "b", 3, 2),  # tie -> token asc
        ]


class TestJvmSpanAssembly:
    def test_matches_python_entry_to_spans(self, spark):
        """derive_spans_col (Catalyst) must equal entry_to_spans
        (kernel) field-for-field across presence combinations."""
        from content_extractor_spark.kernel.analyzer import RawEntryInformation
        from content_extractor_spark.kernel.spans import entry_to_spans
        from content_extractor_spark.operators.extract import derive_spans_col

        cases = [
            ("t", "s", "c", "d", ["a", "b"], "http://i/1"),
            ("t", None, "c", None, None, None),
            ("t", None, None, None, [], "http://i/2"),
            ("", "s", None, "d", ["x"], None),
            (None, None, None, None, None, None),  # no entry -> null spans
        ]
        df = spark.createDataFrame(
            [(i, *c) for i, c in enumerate(cases)],
            "i int, title string, summary string, content string, "
            "date string, tags array<string>, image_url string",
        )
        got = {
            r["i"]: r["spans"]
            for r in df.withColumn("spans", derive_spans_col()).collect()
        }
        for i, (title, summary, content, date, tags, img) in enumerate(cases):
            if title is None:
                assert got[i] is None
                continue
            want = entry_to_spans(RawEntryInformation(
                title=title, summary=summary, content=content, date=date,
                tags=tags, image_url=img,
            ))
            assert [r.asDict() for r in got[i]] == want, f"case {i}"

    def test_randomized_parity_with_python(self, spark):
        """400 random presence/content combinations, one Spark job."""
        import random

        from content_extractor_spark.kernel.analyzer import RawEntryInformation
        from content_extractor_spark.kernel.spans import entry_to_spans
        from content_extractor_spark.operators.extract import derive_spans_col

        rng = random.Random(7)
        words = ["alpha", "beta", "", "x y z", "ümläut", "a(b)c"]

        def maybe(p=0.5):
            return rng.choice(words) if rng.random() < p else None

        cases = []
        for i in range(400):
            tags = None
            if rng.random() < 0.6:
                tags = [rng.choice(words) for _ in range(rng.randrange(0, 4))]
            cases.append((i, rng.choice(words), maybe(), maybe(), maybe(),
                          tags, maybe(0.3)))
        df = spark.createDataFrame(
            cases,
            "i int, title string, summary string, content string, "
            "date string, tags array<string>, image_url string",
        )
        got = {
            r["i"]: [s.asDict() for s in r["spans"]]
            for r in df.withColumn("spans", derive_spans_col()).collect()
        }
        for i, title, summary, content, date, tags, img in cases:
            want = entry_to_spans(RawEntryInformation(
                title=title, summary=summary, content=content, date=date,
                tags=tags, image_url=img,
            ))
            assert got[i] == want, f"case {i}"


class TestCuration:
    def test_pii_scrub(self, spark):
        from content_extractor_spark.operators.curation import pii_scrub

        df = spark.createDataFrame(
            [(1, "mail a.b+c@test.de and 10.1.2.3 or call +49 30 1234567 now"),
             (2, "nothing sensitive here")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
        assert out[1]["scrubbed"] == "mail <EMAIL> and <IP> or call <PHONE> now"
        assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 1, 1)
        assert out[2]["scrubbed"] == "nothing sensitive here"
        assert out[2]["n_emails"] == 0

    def test_pii_scrub_luhn_cards(self, spark):
        """Payment cards: a Luhn-VALID PAN (spaced or dashed) becomes
        <CC>; an invalid 16-digit run fails the checksum and falls
        through to the phone scrubber — only checksum-valid numbers
        are the high-severity leak."""
        from content_extractor_spark.operators.curation import pii_scrub

        df = spark.createDataFrame(
            [(1, "pay 4111 1111 1111 1111 today"),
             (2, "pay 4111-1111-1111-1112 today"),
             (3, "amex 3782 822463 10005 ok"),
             (4, "id 1234 is fine")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
        assert out[1]["scrubbed"] == "pay <CC> today"
        assert (out[1]["n_cards"], out[1]["n_phones"]) == (1, 0)
        assert out[2]["scrubbed"] == "pay <PHONE> today"
        assert (out[2]["n_cards"], out[2]["n_phones"]) == (0, 1)
        # 15-digit Amex test PAN, Luhn-valid
        assert out[3]["scrubbed"] == "amex <CC> ok"
        assert out[3]["n_cards"] == 1
        assert out[4]["scrubbed"] == "id 1234 is fine"
        assert out[4]["n_cards"] == 0

    def test_pii_scrub_iban_mod97(self, spark):
        """IBANs: the ISO 13616 mod-97 check gates redaction — the
        textbook-valid DE IBAN becomes <IBAN>; flipping its last digit
        fails the check and the phone scrubber eats the digit tail."""
        from content_extractor_spark.operators.curation import pii_scrub

        df = spark.createDataFrame(
            [(1, "pay to DE89370400440532013000 now"),
             (2, "pay to DE89370400440532013001 now"),
             (3, "GB82WEST12345698765432 works too")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
        assert out[1]["scrubbed"] == "pay to <IBAN> now"
        assert out[1]["n_ibans"] == 1
        assert out[2]["n_ibans"] == 0
        assert "<IBAN>" not in out[2]["scrubbed"]
        assert out[3]["scrubbed"] == "<IBAN> works too"

    def test_pii_scrub_iban_display_forms(self, spark):
        """r6: the ISO 13616 paper format (groups of 4, space or dash
        separated) validates through the same mod-97 fold after
        separator normalization — a VALID spaced/dashed IBAN redacts
        whole; an INVALID spaced one fails the checksum and only its
        digit tail reaches the phone scrubber."""
        from content_extractor_spark.operators.curation import pii_scrub

        df = spark.createDataFrame(
            [(1, "pay DE89 3704 0044 0532 0130 00 now"),
             (2, "pay DE89-3704-0044-0532-0130-00 now"),
             (3, "pay DE89 3704 0044 0532 0130 01 now"),
             (4, "pay GB82 WEST 1234 5698 7654 32 now")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
        assert out[1]["scrubbed"] == "pay <IBAN> now"
        assert out[1]["n_ibans"] == 1
        assert out[2]["scrubbed"] == "pay <IBAN> now"
        assert out[3]["n_ibans"] == 0
        assert "<IBAN>" not in out[3]["scrubbed"]
        assert out[4]["scrubbed"] == "pay <IBAN> now"

    def test_decontaminate(self, spark):
        from content_extractor_spark.operators.curation import decontaminate

        eight = "q w e r t y u i"
        docs = spark.createDataFrame(
            [(1, f"prefix {eight} suffix words here"),   # contains benchmark 8-gram
             (2, "totally clean document with other words entirely fresh"),
             (3, "q w e r t y u")],                      # only 7 tokens -> no 8-gram
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(99, f"leading {eight} trailing")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r["contaminated"] for r in decontaminate(docs, bench).collect()}
        assert out == {1: True, 2: False, 3: False}

    def test_pack_sequences(self, spark):
        from content_extractor_spark.operators.curation import pack_sequences

        # shard s: docs of 6,6,6 tokens, seq_len 10 -> starts at 0,6,12
        # -> packs 0,0,1
        rows = [("s", 1, "a b c d e f"), ("s", 2, "g h i j k l"),
                ("s", 3, "m n o p q r"), ("t", 9, "x y")]
        df = spark.createDataFrame(rows, "source string, doc_id long, text string")
        out = {
            (r["source"], r["pack_id"]): (r["n_docs"], r["n_tokens"])
            for r in pack_sequences(df, seq_len=10).collect()
        }
        assert out == {("s", 0): (2, 12), ("s", 1): (1, 6), ("t", 0): (1, 2)}

    def test_pack_sequences_null_text_counts_zero(self, spark):
        from content_extractor_spark.operators.curation import pack_sequences

        rows = [("s", 1, "a b c d e f"), ("s", 2, None), ("s", 3, "g h i j k l")]
        df = spark.createDataFrame(rows, "source string, doc_id long, text string")
        out = {
            (r["source"], r["pack_id"]): (r["n_docs"], r["n_tokens"])
            for r in pack_sequences(df, seq_len=10).collect()
        }
        # null doc contributes 0 tokens (never -1): starts at 0,6,6 ->
        # all pack 0 with 12 tokens (the -1 bug would report 11)
        assert out == {("s", 0): (3, 12)}

    def test_train_val_split_deterministic(self, spark):
        from content_extractor_spark.operators.curation import train_val_split

        df = spark.range(1000).select(F.col("id").alias("doc_id"))
        a = {r["doc_id"]: r["split"] for r in train_val_split(df).collect()}
        b = {r["doc_id"]: r["split"] for r in train_val_split(df).collect()}
        assert a == b  # stable across runs
        n_val = sum(1 for v in a.values() if v == "val")
        assert 20 <= n_val <= 90  # ~5% of 1000 with hash variance


class TestTextStats:
    def test_language_id(self, spark, texts):
        got = dict(
            texts.select("doc_id", detect_language("text").alias("l")).collect()
        )
        assert got[1] == "en" and got[3] == "de" and got[5] == "fr"

    def test_token_counts(self, spark):
        df = spark.createDataFrame([(1, "Hello, world! a b")], "id int, text string")
        row = df.select(
            token_count_ws("text").alias("ws"), token_count_bpe("text").alias("bpe")
        ).collect()[0]
        assert row["ws"] == 4
        # Hello , world ! a b -> 6
        assert row["bpe"] == 6

    def test_length_band_filter(self, spark):
        from content_extractor_spark.operators.textstats import length_band_filter

        df = spark.createDataFrame(
            [(i, "en", i * 10) for i in range(1, 21)]
            + [(100, "de", 5), (101, "de", 6)],
            "doc_id long, lang string, n_chars int",
        )
        kept = length_band_filter(df, lower=0.1, upper=0.9)
        en = sorted(r["doc_id"] for r in kept.where("lang='en'").collect())
        # rank fractions: keep 0.1 < rn/20 <= 0.9 -> ranks 3..18
        assert en == list(range(3, 19))
        de = sorted(r["doc_id"] for r in kept.where("lang='de'").collect())
        assert de == [100]  # rn/2: 0.5 kept, 1.0 dropped (> 0.9)

    def test_quality(self, spark, texts):
        out = quality_features(texts)
        row = {r["doc_id"]: r for r in out.collect()}
        assert row[1]["q_tokens"] == 14
        assert row[1]["q_score"] == 1.0


class TestMultimodal:
    def test_image_feature_plumbing(self, spark):
        df = spark.createDataFrame(
            [("m1", bytearray(b"payload-1")), ("m2", bytearray(b"payload-2")), ("m3", None)],
            "media_ref string, payload binary",
        )
        out = {r["media_ref"]: r for r in extract_image_features(df).collect()}
        assert out["m1"]["status"] == "ok" and len(out["m1"]["feat"]) == 8
        assert out["m1"]["sha256"] != out["m2"]["sha256"]
        assert out["m3"]["status"] == "error"
        # determinism: same payload -> same features
        again = {r["media_ref"]: r for r in extract_image_features(df).collect()}
        assert out["m1"]["feat"] == again["m1"]["feat"]

    def test_raise_mode(self, spark):
        df = spark.createDataFrame(
            [("m1", bytearray(b"x"))], "media_ref string, payload binary"
        )
        out = extract_image_features(df, decode_stub_mode="raise").collect()[0]
        assert out["status"] == "unsupported"

    def test_image_header_decode(self):
        from content_extractor_spark.operators.multimodal import decode_image_header

        png = (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
               + (640).to_bytes(4, "big") + (481).to_bytes(4, "big")
               + b"\x08\x06\x00\x00\x00" + b"\x00" * 4)
        assert decode_image_header(png) == ("png", 640, 481)
        # minimal JPEG: SOI, APP0 (skipped), SOF0 with h=100 w=200
        jpeg = (b"\xff\xd8"
                + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
                + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
                + (100).to_bytes(2, "big") + (200).to_bytes(2, "big")
                + b"\x03" + b"\x00" * 9)
        assert decode_image_header(jpeg) == ("jpeg", 200, 100)
        gif = b"GIF89a" + (320).to_bytes(2, "little") + (240).to_bytes(2, "little") + b"\x00" * 4
        assert decode_image_header(gif) == ("gif", 320, 240)
        bmp = (b"BM" + b"\x00" * 16
               + (12).to_bytes(4, "little") + (34).to_bytes(4, "little"))
        assert decode_image_header(bmp) == ("bmp", 12, 34)
        assert decode_image_header(b"not an image at all......") is None

    def test_media_manifest(self, spark):
        from content_extractor_spark.operators.multimodal import media_manifest

        spans = [
            {"kind": "text", "text": "a", "media_ref": None, "offset": 0},
            {"kind": "media", "text": None, "media_ref": "m0", "offset": 1},
            {"kind": "text", "text": "b", "media_ref": None, "offset": 2},
            {"kind": "media", "text": None, "media_ref": "m1", "offset": 3},
        ]
        df = spark.createDataFrame(
            [("d1", spans), ("d2", [spans[0]])],  # d2 has no media
            "doc_id string, spans array<struct<kind string, text string, "
            "media_ref string, offset int>>",
        )
        rows = [
            (r["doc_id"], r["offset"], r["media_ref"], r["texts_before"])
            for r in media_manifest(df).orderBy("doc_id", "offset").collect()
        ]
        assert rows == [("d1", 1, "m0", 1), ("d1", 3, "m1", 2)]
        # pure array expressions: no shuffle, no Python stage
        from content_extractor_spark.plans import plan_report

        rep = plan_report(media_manifest(df))
        assert rep["exchanges"] == 0 and rep["python_stages"] == 0

    def test_netpbm_pixel_decode(self):
        # 2x1 RGB: (10,20,30) and (30,40,50) -> means (20,30,40)
        p6 = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 30, 40, 50])
        assert _pixel_stats(p6) == ("ppm", 2, 1, 3, [20.0, 30.0, 40.0])
        # comments in the header (spec-legal)
        p6c = b"P6\n# a comment\n2 1\n# another\n255\n" + bytes([0, 0, 0, 2, 4, 6])
        assert _pixel_stats(p6c) == ("ppm", 2, 1, 3, [1.0, 2.0, 3.0])
        # grayscale P5
        p5 = b"P5\n4 1\n255\n" + bytes([0, 100, 100, 200])
        assert _pixel_stats(p5) == ("pgm", 4, 1, 1, [100.0])
        # truncated payload / ascii variant / garbage -> None
        assert _pixel_stats(b"P6\n4 4\n255\n\x00\x00") is None
        assert _pixel_stats(b"P3\n1 1\n255\n0 0 0") is None
        assert _pixel_stats(b"\x89PNG\r\n\x1a\n") is None

    def test_pixel_stats_in_spark(self, spark):
        from content_extractor_spark.operators.multimodal import extract_pixel_stats

        p6 = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 30, 40, 50])
        df = spark.createDataFrame(
            [("i1", bytearray(p6)), ("i2", bytearray(b"jpeg-ish"))],
            "media_ref string, payload binary",
        )
        out = {r["media_ref"]: r for r in extract_pixel_stats(df).collect()}
        assert out["i1"]["status"] == "ok"
        assert (out["i1"]["width"], out["i1"]["height"]) == (2, 1)
        assert (out["i1"]["mean_r"], out["i1"]["mean_g"], out["i1"]["mean_b"]) == (
            20.0, 30.0, 40.0)
        assert out["i2"]["status"] == "unsupported"

    def test_audio_header_decode(self):
        from content_extractor_spark.operators.multimodal import decode_audio_header

        def wav(channels, rate, bits, n_data):
            byte_rate = rate * channels * bits // 8
            return (b"RIFF" + (36 + n_data).to_bytes(4, "little") + b"WAVE"
                    + b"fmt " + (16).to_bytes(4, "little")
                    + (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
                    + rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
                    + (channels * bits // 8).to_bytes(2, "little")
                    + bits.to_bytes(2, "little")
                    + b"data" + n_data.to_bytes(4, "little") + b"\x00" * n_data)

        assert decode_audio_header(wav(1, 8000, 16, 16000)) == ("wav", 1, 8000, 1000)
        assert decode_audio_header(wav(2, 44100, 16, 176400)) == ("wav", 2, 44100, 1000)
        assert decode_audio_header(b"RIFF\x00\x00\x00\x00AVI ") is None
        assert decode_audio_header(b"plain text") is None

    def test_audio_features_in_spark(self, spark):
        from content_extractor_spark.operators.multimodal import extract_audio_features

        wav = (b"RIFF" + (36 + 3200).to_bytes(4, "little") + b"WAVE"
               + b"fmt " + (16).to_bytes(4, "little")
               + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
               + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
               + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
               + b"data" + (3200).to_bytes(4, "little") + b"\x00" * 3200)
        df = spark.createDataFrame(
            [("a1", bytearray(wav)), ("a2", bytearray(b"nope"))],
            "media_ref string, payload binary",
        )
        out = {r["media_ref"]: r for r in extract_audio_features(df).collect()}
        assert out["a1"]["status"] == "ok"
        assert (out["a1"]["channels"], out["a1"]["sample_rate"],
                out["a1"]["duration_ms"]) == (1, 8000, 200)
        assert out["a2"]["status"] == "unsupported"

    def test_image_header_in_spark_features(self, spark):
        png = (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
               + (7).to_bytes(4, "big") + (9).to_bytes(4, "big")
               + b"\x08\x06\x00\x00\x00" + b"\x00" * 4)
        df = spark.createDataFrame(
            [("p1", bytearray(png)), ("t1", bytearray(b"plain text"))],
            "media_ref string, payload binary",
        )
        out = {r["media_ref"]: r for r in extract_image_features(df).collect()}
        assert (out["p1"]["fmt"], out["p1"]["width"], out["p1"]["height"]) == ("png", 7, 9)
        assert out["t1"]["fmt"] is None and out["t1"]["width"] is None


class TestColumnarSpanDecode:
    """Direct unit tests of the Arrow fast-path decoder (no Spark)."""

    SPAN_T = None

    def _arr(self, rows):
        import pyarrow as pa

        span_t = pa.struct(
            [("kind", pa.string()), ("text", pa.string()),
             ("media_ref", pa.string()), ("offset", pa.int32())]
        )
        return pa.array(rows, type=pa.list_(span_t))

    def test_null_row_fast_path(self):
        """Regression (ADVICE r2): Array.is_valid() takes no index arg;
        a null spans row must run through the COLUMNAR path, not fall
        back to to_pylist."""
        from content_extractor_spark.operators.extract import (
            _decode_spans_columnar,
        )

        arr = self._arr([
            [{"kind": "text", "text": "ab", "media_ref": None, "offset": 0},
             {"kind": "media", "text": None, "media_ref": "m1", "offset": 1},
             {"kind": "text", "text": "cd", "media_ref": None, "offset": 2}],
            None,
            [{"kind": "text", "text": "z", "media_ref": None, "offset": 0}],
        ])
        assert arr.null_count == 1
        out = _decode_spans_columnar(arr)
        assert out == [("abcd", 3, 1), ("", 0, 0), ("z", 1, 0)]

    def test_no_null_rows(self):
        from content_extractor_spark.operators.extract import (
            _decode_spans_columnar,
        )

        arr = self._arr([
            [{"kind": "text", "text": "b", "media_ref": None, "offset": 1},
             {"kind": "text", "text": "a", "media_ref": None, "offset": 0}],
        ])
        # offset-ordered reassembly regardless of physical order
        assert _decode_spans_columnar(arr) == [("ab", 2, 0)]

    def test_decode_error_raises_out_of_analyze_batch(self, monkeypatch):
        """A columnar decode failure is a defect, not a reason to run
        a slower row-wise path in silence: it must fail the batch."""
        import pyarrow as pa

        from content_extractor_spark.operators import extract

        def broken(arr):
            raise ValueError("decode defect")

        monkeypatch.setattr(extract, "_decode_spans_columnar", broken)
        batch = pa.RecordBatch.from_arrays(
            [pa.array(["d1"]), self._arr([
                [{"kind": "text", "text": "<p>x</p>", "media_ref": None,
                  "offset": 0}],
            ])],
            names=["doc_id", "spans"],
        )
        with pytest.raises(ValueError, match="decode defect"):
            extract._analyze_batch(batch, {})


class TestScaleCaps:
    """The r2-flagged scale-killers: hot posting lists and dense LSH
    buckets must be boundable without breaking exactness when the caps
    don't bind."""

    def test_ngram_boilerplate_shingle_bounded(self, spark):
        # 1000 docs share ONE boilerplate shingle ("copyright acme corp")
        # -> uncapped inverted index would emit ~500k intermediate pairs
        # from that shingle alone; max_df drops it entirely.
        rows = [
            (i, f"unique words {i} alpha{i} beta{i} copyright acme corp")
            for i in range(1000)
        ]
        # plus one true near-dup pair sharing all their shingles
        rows += [
            (2001, "the exact same long sentence appears twice here ok"),
            (2002, "the exact same long sentence appears twice here ok"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string").repartition(8)
        pairs = ngram_jaccard_pairs(
            df, k=3, threshold=0.5, max_df=10, max_posting=10
        ).collect()
        got = {(p["a"], p["b"]) for p in pairs}
        assert (2001, 2002) in got
        # the boilerplate shingle produced no pair blow-up
        assert len(got) < 50

    def test_ngram_caps_do_not_bind_on_small_data(self, spark, texts):
        exact = {
            (p["a"], p["b"], p["jaccard"])
            for p in ngram_jaccard_pairs(texts, k=3, threshold=0.9).collect()
        }
        capped = {
            (p["a"], p["b"], p["jaccard"])
            for p in ngram_jaccard_pairs(
                texts, k=3, threshold=0.9, max_df=1000, max_posting=1000
            ).collect()
        }
        assert exact == capped == {(1, 2, 1.0)}

    def test_embedding_neardup_bucket_cap(self, spark):
        from content_extractor_spark.operators.similarity import (
            embedding_near_duplicates,
        )

        # 60 identical vectors -> one bucket -> 1770 uncapped pairs;
        # cap at 10 -> C(10,2) = 45
        rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        capped = embedding_near_duplicates(
            df, dim=4, threshold=0.99, nbits=2, max_bucket=10
        ).collect()
        assert len(capped) == 45
        # only the first 10 ids (window ordered by id) survive the cap
        ids = {r["a"] for r in capped} | {r["b"] for r in capped}
        assert ids == set(range(10))

    def test_cosine_guard_corpus_rows_hint(self, spark):
        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(20)],
            "vec_id int, embedding array<float>",
        )
        q = spark.createDataFrame(
            [(100, [1.0, 0.0])], "query_id int, q_embedding array<float>"
        )
        # hint within bound: runs, no probe job
        out = cosine_topk(q, emb, k=3, corpus_rows=20)
        assert out.count() == 3
        # hint above bound: guard still enforces
        with pytest.raises(ValueError, match="cross join"):
            cosine_topk(q, emb, k=3, corpus_rows=2_000_000)

    def test_simhash_df_variant_parity(self, spark, texts):
        """simhash_signatures_df must emit bit-identical signatures to
        the expression form (the scalable explode+sum shape vs the
        per-row aggregate-lambda passes)."""
        from content_extractor_spark.operators.dedup_families import (
            simhash,
            simhash_signatures_df,
        )

        expr_sigs = dict(
            texts.select("doc_id", simhash("text", 16).alias("s")).collect()
        )
        df_sigs = dict(simhash_signatures_df(texts, bits=16).collect())
        assert expr_sigs == df_sigs
        # empty text agrees too (both hash the single "" token)
        one = spark.createDataFrame([(9, "")], "doc_id int, text string")
        e = one.select(simhash("text", 16).alias("s")).collect()[0]["s"]
        d = simhash_signatures_df(one, bits=16).collect()[0]["sig"]
        assert e == d
        # NULL text agrees: BOTH forms emit a NULL signature (the
        # expression form previously fell into otherwise() and emitted
        # 0; the df form previously dropped the row entirely)
        nul = spark.createDataFrame([(7, None)], "doc_id int, text string")
        en = nul.select(simhash("text", 16).alias("s")).collect()[0]["s"]
        rows = simhash_signatures_df(nul, bits=16).collect()
        assert en is None
        assert [(r["id"], r["sig"]) for r in rows] == [(7, None)]


class TestPngPixelDecode:
    """Real dependency-free PNG pixel decode (stdlib zlib)."""

    def test_roundtrip_all_filters(self):
        from content_extractor_spark.synth import encode_png_solid

        # h >= 5 guarantees every filter type 0..4 appears
        for w, h, rgb in [(1, 5, (0, 0, 0)), (7, 9, (37, 74, 111)),
                          (16, 12, (255, 1, 128))]:
            png = encode_png_solid(w, h, rgb)
            fmt, dw, dh, ch, means = _pixel_stats(png)
            assert (fmt, dw, dh, ch) == ("png", w, h, 3)
            assert means == [float(c) for c in rgb]

    def test_externally_encoded_gray(self):
        """A PNG produced by an INDEPENDENT encoder (IPython's 2x2 gray
        test image; raw content hand-verified: Sub then Up filter, all
        four pixels 0x80) — guards against a self-cancelling filter
        mistake shared by our encoder+decoder."""

        png = (
            b"\x89PNG\r\n\x1a\n"
            # IHDR: 2x2, depth 8, gray (+4-byte crc, not validated)
            + bytes.fromhex(
                "0000000d494844520000000200000002080000000000000000"
            )
            # IDAT: the VERBATIM 14 compressed bytes from IPython's
            # 2x2.png (independent encoder) + crc placeholder
            + bytes.fromhex("0000000e49444154789c636c6060626000000292008400000000")
            + bytes.fromhex("0000000049454e44ae426082")
        )
        assert _pixel_stats(png) == ("png", 2, 2, 1, [128.0])

    def test_alpha_excluded_from_means(self):
        import struct
        import zlib

        # hand-built 2x1 RGBA, filter 0: pixels (10,20,30,a=0) and
        # (30, 40, 50, a=255) -> means ignore alpha entirely
        def chunk(ctype, payload):
            return (struct.pack(">I", len(payload)) + ctype + payload
                    + struct.pack(">I", zlib.crc32(ctype + payload)))

        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 6, 0, 0, 0)
        raw = bytes([0, 10, 20, 30, 0, 30, 40, 50, 255])
        png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw, 0)) + chunk(b"IEND", b""))
        fmt, w, h, ch, means = _pixel_stats(png)
        assert (fmt, w, h, ch) == ("png", 2, 1, 4)
        assert means == [20.0, 30.0, 40.0]

    def test_unsupported_variants_return_none(self):
        import struct
        import zlib

        def png_with(bit_depth, color_type, interlace=0):
            def chunk(ctype, payload):
                return (struct.pack(">I", len(payload)) + ctype + payload
                        + struct.pack(">I", zlib.crc32(ctype + payload)))

            ihdr = struct.pack(">IIBBBBB", 1, 1, bit_depth, color_type, 0,
                               0, interlace)
            raw = bytes([0, 1])
            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw, 0))
                    + chunk(b"IEND", b""))

        assert _pixel_stats(png_with(16, 0)) is None     # 16-bit
        assert _pixel_stats(png_with(8, 3)) is None      # palette
        assert _pixel_stats(png_with(8, 0, 1)) is None   # interlaced
        assert _pixel_stats(b"\x89PNG\r\n\x1a\njunk") is None
        assert _pixel_stats(b"") is None


class TestCorpusStats:
    def test_tfidf_distinctive_term_wins(self, spark):
        from content_extractor_spark.operators.textstats import tfidf_top_terms

        rows = [
            (1, "en", "zebra zebra zebra"),
            (2, "en", "common words common words"),
            (3, "en", "common words again common"),
            (4, "de", "anders hier"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, lang string, text string")
        top = tfidf_top_terms(df, k=1).collect()
        by_lang = {r["lang"]: r["term"] for r in top}
        # 'zebra' is unique to doc 1 and dominates its tf -> top en term
        assert by_lang["en"] == "zebra"

    def test_unigram_logprob_rare_lower(self, spark):
        from content_extractor_spark.operators.textstats import unigram_logprob

        rows = [(i, "the the the the") for i in range(5)] + [(9, "xylophone qat")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r["mean_logprob"] for r in unigram_logprob(df).collect()}
        # the rare-token doc scores strictly lower than the stopword docs
        assert out[9] < out[0]

    def test_stratified_sample_deterministic_and_capped(self, spark):
        from content_extractor_spark.operators.curation import stratified_sample

        rows = [(i, "g%d" % (i % 2)) for i in range(500)]
        df = spark.createDataFrame(rows, "doc_id int, lang string")
        a = sorted(r["doc_id"] for r in stratified_sample(df, permille=200).collect())
        b = sorted(r["doc_id"] for r in stratified_sample(df, permille=200).collect())
        assert a == b and 0 < len(a) < 500
        capped = stratified_sample(df, permille=1000, per_group_cap=7)
        per_group = {
            r["lang"]: r["n"]
            for r in capped.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        assert per_group == {"g0": 7, "g1": 7}


class TestLinkGraph:
    def _edges(self, spark):
        from content_extractor_spark.operators.linkgraph import extract_host_links

        rows = [
            ("a.com", '<a href="https://b.com/x">1</a><a href="/rel">2</a>'),
            ("a.com", '<a href="https://a.com/self">s</a>'
                      '<a href="http://c.com/y">3</a>'),
            ("b.com", '<a href="https://c.com/z">4</a>'),
            ("d.com", "no links here"),
        ]
        df = spark.createDataFrame(rows, "host string, html string")
        return extract_host_links(df)

    def test_extract_host_links(self, spark):
        got = {(r["src"], r["dst"]) for r in self._edges(spark).collect()}
        # relative href and self-loop dropped; http and https both kept
        assert got == {("a.com", "b.com"), ("a.com", "c.com"), ("b.com", "c.com")}

    def test_pagerank_mass_conserved(self, spark):
        from content_extractor_spark.operators.linkgraph import pagerank_hosts

        ranks = pagerank_hosts(self._edges(spark), iterations=3).collect()
        total = sum(r["rank"] for r in ranks)
        assert abs(total - 1.0) < 1e-4  # dangling mass redistributed
        by_host = {r["host"]: r["rank"] for r in ranks}
        # c.com is the only sink with two in-edges -> highest rank
        assert by_host["c.com"] == max(by_host.values())

    def test_pagerank_leaves_session_aqe_on(self, spark):
        """A small-graph pagerank changes no session-global conf: a
        second thread that reads the AQE flag throughout the call always
        sees it on."""
        import threading

        from content_extractor_spark.operators.linkgraph import pagerank_hosts

        edges = self._edges(spark).cache()
        edges.count()
        reads, done = [], threading.Event()

        def watch():
            while not done.is_set():
                reads.append(spark.conf.get("spark.sql.adaptive.enabled"))

        t = threading.Thread(target=watch)
        t.start()
        try:
            pagerank_hosts(edges, iterations=3, graph_partitions=2)
        finally:
            done.set()
            t.join(timeout=30)
            edges.unpersist()
        assert not t.is_alive()
        assert len(reads) > 10
        assert set(reads) == {"true"}


class TestKmeansAndNormalize:
    def test_kmeans_separates_two_blobs(self, spark):
        from content_extractor_spark.operators.similarity import kmeans_assign

        rows = [(i, [0.0 + i * 0.01, 0.0]) for i in range(5)]
        rows += [(100 + i, [10.0 + i * 0.01, 0.0]) for i in range(5)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        out = kmeans_assign(df, dim=2, k=2, iterations=2).collect()
        by_id = {r["vec_id"]: r["cluster"] for r in out}
        left = {by_id[i] for i in range(5)}
        right = {by_id[100 + i] for i in range(5)}
        assert len(left) == 1 and len(right) == 1 and left != right

    def test_kmeans_deterministic(self, spark):
        from content_extractor_spark.operators.similarity import kmeans_assign

        rows = [(i, [float(i % 7), float(i % 3)]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        a = sorted(map(tuple, kmeans_assign(df, dim=2, k=3, iterations=2).collect()))
        b = sorted(map(tuple, kmeans_assign(df, dim=2, k=3, iterations=2).collect()))
        assert a == b

    def test_dists_to_all_bit_equals_per_centroid_form(self, spark):
        """r7: the fused transform-over-2D-literal distance array must be
        bit-equal to the former k-separate aggregate(zip_with) trees —
        same zip order, same (a-b)*(a-b), same left fold, same round —
        so argmin tie-breaks can never move."""
        from pyspark.sql import functions as F

        from content_extractor_spark.operators.similarity import (
            _dists_to_all,
            _sq_dist_to,
        )

        # awkward floats on purpose: values near rounding boundaries
        rows = [
            (i, [((i * 31 + j * 17) % 97) / 7.0 + 0.0000005
                 for j in range(8)])
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "id int, v array<double>")
        cents = [
            [((c * 13 + j * 5) % 89) / 7.0 for j in range(8)]
            for c in range(5)
        ]
        old = F.array(*[_sq_dist_to(F.col("v"), c, 6) for c in cents])
        out = df.select(
            _dists_to_all(F.col("v"), cents, 6).alias("new"),
            old.alias("old"),
        ).collect()
        for r in out:
            assert r["new"] == r["old"]  # exact float equality, per entry

    def test_train_ivf_pq_matches_separate_trainers(self, spark):
        """r7: the fused one-job trainer must return exactly the cents
        the full-vector trainer returns and exactly the books the PQ
        trainer returns — same init, same rounded distances, same
        tie-breaks, same rounded AVG update, same empty-cluster
        fallback."""
        from pyspark.sql import functions as F

        from content_extractor_spark.operators.similarity import (
            _kmeans_centroids,
            pq_train_codebooks,
            train_ivf_pq,
        )

        rows = [
            (i, [((i * 23 + j * 7) % 61) / 3.0 for j in range(8)])
            for i in range(90)
        ]
        df = spark.createDataFrame(
            rows, "vec_id int, embedding array<double>"
        )
        for iterations in (1, 2):
            cents, books = train_ivf_pq(
                df, dim=8, m=2, k=3, iterations=iterations
            )
            base = df.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("v"),
            )
            want_cents = _kmeans_centroids(
                base, dim=8, k=3, iterations=iterations, round_to=6
            )
            want_books = pq_train_codebooks(
                df, dim=8, m=2, k=3, iterations=iterations
            )
            assert cents == want_cents
            assert books == want_books

    def test_kmeans_assign_with_given_centroids_matches_trained(self, spark):
        """kmeans_assign(centroids=...) must equal the self-training
        call when handed the centroids that call would train."""
        from pyspark.sql import functions as F

        from content_extractor_spark.operators.similarity import (
            _kmeans_centroids,
            kmeans_assign,
        )

        rows = [(i, [float(i % 7), float(i % 3)]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        base = df.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        cents = _kmeans_centroids(base, dim=2, k=3, iterations=2, round_to=6)
        a = sorted(map(tuple, kmeans_assign(
            df, dim=2, k=3, iterations=2).collect()))
        b = sorted(map(tuple, kmeans_assign(
            df, dim=2, k=3, centroids=cents).collect()))
        assert a == b

    def test_pq_codebooks_and_codes_unchanged_by_fused_distances(self, spark):
        """Books and codes from the 3-D-literal trainer path must match a
        brute-force python replay of the per-centroid arithmetic."""
        from content_extractor_spark.operators.similarity import (
            _round_half_up,
            pq_encode,
            pq_train_codebooks,
        )

        rows = [
            (i, [((i * 7 + j * 11) % 53) / 3.0 for j in range(8)])
            for i in range(80)
        ]
        df = spark.createDataFrame(
            rows, "vec_id int, embedding array<double>"
        )
        books = pq_train_codebooks(df, dim=8, m=2, k=3, iterations=2)
        codes = {
            r["vec_id"]: list(r["codes"])
            for r in pq_encode(df, books).collect()
        }
        # python replay of the encode (same rounding, first-min ties)
        for vid, vec in rows:
            expect = []
            for s, book in enumerate(books):
                sv = vec[s * 4:(s + 1) * 4]
                dists = [
                    _round_half_up(
                        sum((a - b) * (a - b) for a, b in zip(sv, c)), 6
                    )
                    for c in book
                ]
                expect.append(dists.index(min(dists)))
            assert codes[vid] == expect

    def test_normalize_text_rules(self, spark):
        from content_extractor_spark.operators.curation import normalize_text

        dirty = "“Hi” — it’s  a\ttest\x01!"
        df = spark.createDataFrame([(1, dirty)], "doc_id int, text string")
        out = normalize_text(df).collect()[0]["text_norm"]
        assert out == '"Hi" - it\'s a test!'
        low = normalize_text(df, lowercase=True).collect()[0]["text_norm"]
        assert low == '"hi" - it\'s a test!'


class TestGifPixelDecode:
    def test_roundtrip_solid(self):
        from content_extractor_spark.synth import encode_gif_solid

        for w, h, rgb in [(1, 1, (9, 8, 7)), (12, 9, (200, 100, 50))]:
            r = _pixel_stats(encode_gif_solid(w, h, rgb))
            assert r == ("gif", w, h, 3, [float(c) for c in rgb])

    def test_real_lzw_growth_path(self):
        """A hand-built GIF whose LZW stream exercises table growth and
        the code==len(table) (KwKwK) case: min code 2, codes
        CLEAR,0,1,6(=prev+prev[0]),EOI over a 2x3 two-color image."""
        import struct

        hdr = b"GIF89a" + struct.pack("<HHBBB", 2, 3, 0x80 | 0x01, 0, 0)
        pal = bytes([10, 20, 30, 250, 240, 230]) + bytes(6)
        desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 3, 0)
        # bit-pack codes at width 3: 4(clear),0,1,6,5(eoi)
        codes = [4, 0, 1, 6, 5]
        acc = nbits = 0
        payload = bytearray()
        for c in codes:
            acc |= c << nbits
            nbits += 3
            while nbits >= 8:
                payload.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            payload.append(acc & 0xFF)
        stream = bytes([2, len(payload)]) + bytes(payload) + b"\x00"
        gif = hdr + pal + desc + stream + b"\x3b"
        # decoded indices: [0], [1], [1,0,... wait: KwKwK of prev=[1] ->
        # [1,1]; pixels = 0,1,1,1 -> only 4 of 6 -> decoder rejects
        r = _pixel_stats(gif)
        # 4 decoded pixels < w*h=6 -> structural reject, never garbage
        assert r is None

    def test_external_gifs_would_decode(self):
        """Structural self-check on our own two-color growth stream
        sized to exactly w*h (6 pixels: codes for 0,1,[1,1],[1,1])."""
        import struct

        hdr = b"GIF89a" + struct.pack("<HHBBB", 2, 3, 0x80 | 0x01, 0, 0)
        pal = bytes([0, 0, 0, 255, 255, 255]) + bytes(6)
        desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 3, 0)
        codes = [4, 0, 1, 6, 7, 5]  # 0 | 1 | (1,1)=KwKwK | (1,1,1)? no:
        # table after 6: [..,4c,5e,6=(0,1)? ] -- walk: prev=[0]; code 1
        # -> entry [1], append [0,1](idx6); code 6 -> entry [0,1],
        # append [1,0](7); code 7 -> entry [1,0], append [0,1,1](8)
        # pixels: 0,1,0,1,1,0 = 6 = w*h
        acc = nbits = 0
        payload = bytearray()
        width = 3
        for c in codes:
            acc |= c << nbits
            nbits += width
            # decoder table grows 6 -> 7 -> 8 while processing code 6;
            # at len(table) == 8 the code width bumps, so every code
            # AFTER 6 must be written 4 bits wide
            if c == 6:
                width = 4
            while nbits >= 8:
                payload.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            payload.append(acc & 0xFF)
        stream = bytes([2, len(payload)]) + bytes(payload) + b"\x00"
        gif = hdr + pal + desc + stream + b"\x3b"
        r = _pixel_stats(gif)
        assert r is not None
        fmt, w, h, ch, means = r
        # pixels: three 0s (black) and three 1s (white) -> mean 127.5
        assert (w, h) == (2, 3) and means == [127.5, 127.5, 127.5]


class TestJpegPixelDecode:
    def test_solid_roundtrip_exact(self):
        import math

        from content_extractor_spark.kernel.jpeg import (
            encode_jpeg_solid,
            rgb_to_ycbcr,
        )

        for w, h, rgb in [(8, 8, (0, 0, 0)), (7, 5, (37, 74, 111)),
                          (20, 13, (200, 10, 99)), (1, 1, (128, 128, 128))]:
            fmt, dw, dh, ch, means = _pixel_stats(
                encode_jpeg_solid(w, h, rgb)
            )
            assert (fmt, dw, dh, ch) == ("jpeg", w, h, 3)
            y, cb, cr = rgb_to_ycbcr(*rgb)
            clamp = lambda v: max(0.0, min(255.0, float(v)))
            assert means == [
                clamp(math.floor(y + 1.402 * (cr - 128) + 0.5)),
                clamp(math.floor(
                    y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
                )),
                clamp(math.floor(y + 1.772 * (cb - 128) + 0.5)),
            ]

    def test_externally_encoded_grayscale(self):
        """IPython's 2x2.jpg, VERBATIM bytes from an independent encoder
        (libjpeg): 2x2 grayscale, all pixels 128 — the same image whose
        PNG twin decodes to mean 128.0, so the two independent decode
        paths corroborate each other."""
        jpg = bytes.fromhex(
            "ffd8ffe000104a46494600010100000100010000ffdb0043000806060705"
            "0508070707090908 0a0c140d0c0b0b0c1912130f141d1a1f1e1d1a1c1c"
            "20242e2720222c231c1c2837292c30313434341f27393d38323c2e333432"
            "ffc0000b080002000201011100ffc4001f00000105010101010101000000"
            "00000000000102030405060708090a0bffc400b51000020103030204030505"
            "04040000017d01020300041105122131410613516107227114328191a108"
            "2342b1c11552d1f02433627282090a161718191a25262728292a34353637"
            "38393a434445464748494a535455565758595a636465666768696a737475"
            "767778797a838485868788898a92939495969798999aa2a3a4a5a6a7a8a9"
            "aab2b3b4b5b6b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2"
            "e3e4e5e6e7e8e9eaf1f2f3f4f5f6f7f8f9faffda0008010100003f002bff"
            "d9".replace(" ", "")
        )
        assert _pixel_stats(jpg) == ("jpeg", 2, 2, 1, [128.0])

    def test_unsupported_returns_none(self):
        from content_extractor_spark.kernel.jpeg import encode_jpeg_solid

        assert _pixel_stats(b"\xff\xd8\xff\xd9") is None
        assert _pixel_stats(b"not a jpeg") is None
        # progressive (SOF2) refused, not garbled
        prog = (b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x02\x00\x02\x01\x01"
                b"\x11\x00\xff\xd9")
        assert _pixel_stats(prog) is None
        # a zero-area frame (height deferred to a DNL marker) is refused,
        # never reported as status ok with NaN means
        assert _pixel_stats(encode_jpeg_solid(5, 0, (10, 20, 30))) is None


class TestRobotsAndAnchors:
    def test_domain_blocklist_suffix_semantics(self, spark):
        """r6 UT1-style URL filter: exact-host and subdomain matches
        drop; a host whose name merely CONTAINS a blocked domain
        survives (suffix, not substring); single-label hosts match
        exactly; unrelated hosts pass."""
        from content_extractor_spark.operators.scans import (
            domain_blocklist_filter,
        )

        urls = spark.createDataFrame(
            [
                ("bad.example", "https://bad.example/1"),        # exact
                ("ads.bad.example", "https://ads.bad.example/2"),  # subdomain
                ("a.b.bad.example", "https://a.b.bad.example/3"),  # deep sub
                ("notbad.example", "https://notbad.example/4"),  # substring!
                ("good.example", "https://good.example/5"),
                ("localhost", "https://localhost/6"),            # 1 label
                ("bad.example.org", "https://bad.example.org/7"),  # other tld
            ],
            "host string, url string",
        )
        blocked = spark.createDataFrame(
            [("bad.example",), ("localhost",)], "domain string"
        )
        got = sorted(
            r["url"] for r in domain_blocklist_filter(urls, blocked).collect()
        )
        assert got == [
            "https://bad.example.org/7",
            "https://good.example/5",
            "https://notbad.example/4",
        ]

    def test_domain_blocklist_plan_is_equi_joined(self, spark):
        """Scale shape: two plain equi-joins (semi + anti), no
        cartesian, no Python stage — the blocklist side is free to be
        millions of rows."""
        from content_extractor_spark.operators.scans import (
            domain_blocklist_filter,
        )

        urls = spark.createDataFrame(
            [("h.example", "https://h.example/1")], "host string, url string"
        )
        blocked = spark.createDataFrame([("x.example",)], "domain string")
        plan = domain_blocklist_filter(urls, blocked)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "PythonUDF" not in plan and "EvalPython" not in plan

    def test_robots_group_aware(self, spark):
        from content_extractor_spark.operators.scans import robots_rules

        robots = spark.createDataFrame(
            [
                # consecutive UA lines share ONE group; star applies
                ("a.com", "User-agent: googlebot\nUser-agent: *\n"
                          "DISALLOW: /x\n\nUser-agent: foo\nDisallow: /"),
                # non-star group only -> no rules for us
                ("b.com", "User-agent: foo\nDisallow: /"),
                # empty Disallow value = allow-all, must be ignored
                ("c.com", "user-agent: *\ndisallow:\ndisallow: /y"),
            ],
            "host string, robots_txt string",
        )
        rules = {(r["host"], r["prefix"])
                 for r in robots_rules(robots)
                 .where("kind = 'disallow'").collect()}
        assert rules == {("a.com", "/x"), ("c.com", "/y")}

    def test_robots_filter_paths(self, spark):
        from content_extractor_spark.operators.scans import (
            robots_disallow_filter,
        )

        urls = spark.createDataFrame(
            [("a.com", "https://a.com/x/1"), ("a.com", "https://a.com/ok"),
             ("b.com", "https://b.com/x/1")],
            "host string, url string",
        )
        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /x")],
            "host string, robots_txt string",
        )
        kept = {r["url"] for r in robots_disallow_filter(urls, robots).collect()}
        # b.com has no robots -> untouched; a.com/x/* dropped
        assert kept == {"https://a.com/ok", "https://b.com/x/1"}

    def test_robots_group_survives_blank_and_comment_lines(self, spark):
        # RFC 9309: groups are delimited by the next User-agent line —
        # a blank or comment-only line between two UA lines must NOT
        # split the group (r3 advice)
        from content_extractor_spark.operators.scans import robots_rules

        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\n\n# maintained by ops\n"
                       "User-agent: foo\nDisallow: /x")],
            "host string, robots_txt string",
        )
        rules = {(r["host"], r["prefix"])
                 for r in robots_rules(robots)
                 .where("kind = 'disallow'").collect()}
        assert rules == {("a.com", "/x")}

    def test_robots_wildcards_rfc9309(self, spark):
        # '*' matches any run; trailing '$' anchors the path end; '$'
        # and '*' inside rules must not be treated as literal prefixes
        # (RFC 9309 §2.2.3; r3 advice — '/*.php' previously matched
        # nothing because it was compared with plain startswith)
        from content_extractor_spark.operators.scans import (
            robots_disallow_filter,
        )

        urls = spark.createDataFrame(
            [("a.com", f"https://a.com{p}") for p in [
                "/x.php", "/sub/y.php", "/x.php5",  # all match /*.php
                "/x.html",                           # no rule
                "/end", "/end/more",                 # only /end$ exact
                "/a(1)/z",                           # regex metachars literal
            ]],
            "host string, url string",
        )
        robots = spark.createDataFrame(
            [("a.com",
              "User-agent: *\nDisallow: /*.php\nDisallow: /end$\n"
              "Disallow: /a(1)")],
            "host string, robots_txt string",
        )
        kept = {r["url"].replace("https://a.com", "")
                for r in robots_disallow_filter(urls, robots).collect()}
        assert kept == {"/x.html", "/end/more"}

    def test_robots_allow_wildcard_precedence(self, spark):
        # longest RULE path wins (wildcards counted as written); the
        # longer Allow with '*' re-opens a subset of a wildcard block
        from content_extractor_spark.operators.scans import (
            robots_disallow_filter,
        )

        urls = spark.createDataFrame(
            [("a.com", "https://a.com/private/p10"),
             ("a.com", "https://a.com/private/p20")],
            "host string, url string",
        )
        robots = spark.createDataFrame(
            [("a.com",
              "User-agent: *\nDisallow: /*riv\nAllow: /private/p1*")],
            "host string, robots_txt string",
        )
        kept = {r["url"] for r in robots_disallow_filter(urls, robots).collect()}
        assert kept == {"https://a.com/private/p10"}

    def test_anchor_texts(self, spark):
        from content_extractor_spark.operators.linkgraph import (
            extract_anchor_texts,
        )

        df = spark.createDataFrame(
            [("s.com", '<a href="https://d.com/x" rel="nofollow">Click me</a>'
                       '<a href="/rel">skip</a>'
                       '<a href="https://e.com/y"></a>')],
            "host string, html string",
        )
        got = [(r["src"], r["dst"], r["anchor_text"])
               for r in extract_anchor_texts(df).collect()]
        # relative href and empty anchor text are both dropped
        assert got == [("s.com", "d.com", "Click me")]

    def test_bmp_decode_variants(self):
        from content_extractor_spark.synth import encode_bmp_solid

        r = _pixel_stats(encode_bmp_solid(13, 9, (200, 100, 50)))
        assert r == ("bmp", 13, 9, 3, [200.0, 100.0, 50.0])
        # top-down (negative height) decodes identically for means
        import struct

        b = bytearray(encode_bmp_solid(4, 2, (1, 2, 3)))
        b[22:26] = struct.pack("<i", -2)
        assert _pixel_stats(bytes(b)) == ("bmp", 4, 2, 3, [1.0, 2.0, 3.0])
        assert _pixel_stats(b"BM" + b"\x00" * 60) is None


class TestSnapshotAndCompression:
    def test_snapshot_diff(self, spark):
        from content_extractor_spark.operators.curation import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "doc_id int, text string"
        )
        new = spark.createDataFrame(
            [(2, "b"), (3, "CHANGED"), (4, "d")], "doc_id int, text string"
        )
        got = {r["doc_id"]: r["change"] for r in snapshot_diff(old, new).collect()}
        assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


class TestReviewRegressions:
    """Pins for the round-3 review findings."""

    def test_snapshot_diff_null_text(self, spark):
        from content_extractor_spark.operators.curation import snapshot_diff

        old = spark.createDataFrame(
            [(1, None), (2, None), (3, "x")], "doc_id int, text string"
        )
        new = spark.createDataFrame(
            [(2, None), (3, None), (4, None)], "doc_id int, text string"
        )
        got = {r["doc_id"]: r["change"] for r in snapshot_diff(old, new).collect()}
        # null text is PRESENCE, not absence; null==null digests compare
        assert got == {
            1: "removed", 2: "unchanged", 3: "changed", 4: "added",
        }

    def test_robots_trailing_comment(self, spark):
        from content_extractor_spark.operators.scans import robots_rules

        robots = spark.createDataFrame(
            [("a.com",
              "User-agent: * # everyone\nDisallow: /private # staff only\n"
              "# Disallow: /commented-out")],
            "host string, robots_txt string",
        )
        rules = {(r["host"], r["prefix"])
                 for r in robots_rules(robots)
                 .where("kind = 'disallow'").collect()}
        assert rules == {("a.com", "/private")}

    def test_jpeg_multiscan_refused(self):
        """A 3-component frame followed by a 1-component scan must be
        refused (multi-scan baseline), never decoded as grayscale."""
        import struct

        from content_extractor_spark.kernel.jpeg import encode_jpeg_solid

        data = bytearray(encode_jpeg_solid(8, 8, (10, 20, 30)))
        i = data.find(b"\xff\xda")
        ln = int.from_bytes(data[i + 2 : i + 4], "big")
        # rewrite the SOS header to scan only component 1
        new_sos = bytes([0xFF, 0xDA]) + struct.pack(">H", 8) + bytes(
            [1, 1, 0x00, 0, 63, 0]
        )
        data[i : i + 2 + ln] = new_sos
        assert _pixel_stats(bytes(data)) is None

    def test_hocon_diamond_include_and_nested_fail(self, tmp_path):
        import pytest

        from content_extractor_spark.kernel.profiles import (
            UnsupportedHoconError,
            _hocon_file_to_dict,
            load_profile_hocon,
        )

        (tmp_path / "common.conf").write_text('shared = 1\n')
        (tmp_path / "b.conf").write_text('include "common.conf"\nb = 2\n')
        (tmp_path / "c.conf").write_text('include "common.conf"\nc = 3\n')
        (tmp_path / "a.conf").write_text(
            'include "b.conf"\ninclude "c.conf"\na = 4\n'
        )
        # diamond includes are legal, not a cycle
        assert _hocon_file_to_dict(str(tmp_path / "a.conf")) == {
            "shared": 1, "b": 2, "c": 3, "a": 4,
        }
        # nested include fails loud instead of hoisting to the root
        nest = tmp_path / "nest.conf"
        nest.write_text('profile {\n  include "common.conf"\n}\n')
        with pytest.raises(UnsupportedHoconError, match="nested"):
            load_profile_hocon(str(nest))

    def test_hocon_quote_in_comment_does_not_corrupt(self, tmp_path):
        from content_extractor_spark.kernel.profiles import load_profile_hocon

        p = tmp_path / "q.conf"
        p.write_text(
            "# don't use \"x here\n"
            'profile { hostname = "${not.a.sub}", pageTypes = [] }\n'
        )
        # the quoted "${...}" must stay LITERAL despite the comment's quote
        assert load_profile_hocon(str(p)).hostname == "${not.a.sub}"


class TestChunking:
    def test_chunk_documents_windows(self, spark):
        from content_extractor_spark.operators.curation import chunk_documents

        df = spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "x"), (3, ""), (4, None),
             (5, " \t\nhello  world\n")],
            "doc_id int, text string",
        )
        rows = sorted(
            (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
            for r in chunk_documents(df, target_tokens=3).collect()
        )
        # empty/NULL/whitespace-only docs produce NO chunks; edge
        # whitespace never creates phantom tokens (review regressions)
        assert rows == [
            (1, 0, "a b c", 3),
            (1, 1, "d e f", 3),
            (1, 2, "g", 1),
            (2, 0, "x", 1),
            (5, 0, "hello world", 2),
        ]

    def test_chunk_plan_is_map_only(self, spark):
        from content_extractor_spark.operators.curation import chunk_documents
        from content_extractor_spark.plans import plan_report

        df = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
        rep = plan_report(chunk_documents(df, 4))
        assert rep["exchanges"] == 0 and rep["python_stages"] == 0

    def test_robots_allow_longest_match(self, spark):
        """RFC 9309 precedence: longest matching prefix wins; ties go
        to Allow; Allow in a non-star group is ignored."""
        from content_extractor_spark.operators.scans import (
            robots_disallow_filter,
        )

        urls = spark.createDataFrame(
            [("a.com", "https://a.com/x/pub/1"),  # allow /x/pub beats /x
             ("a.com", "https://a.com/x/secret"),
             ("a.com", "https://a.com/tie"),      # equal-length tie -> allow
             ("b.com", "https://b.com/x/pub/1")], # star allow elsewhere only
            "host string, url string",
        )
        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /x\nAllow: /x/pub\n"
                       "Disallow: /tie\nAllow: /tie"),
             ("b.com", "User-agent: *\nDisallow: /x\n\n"
                       "User-agent: foo\nAllow: /x/pub")],
            "host string, robots_txt string",
        )
        kept = {r["url"] for r in robots_disallow_filter(urls, robots).collect()}
        assert kept == {"https://a.com/x/pub/1", "https://a.com/tie"}

    def test_jpeg_restart_markers(self):
        """DRI/RSTn path: restart markers resync the bit reader and
        reset DC predictors — decode must match the marker-free stream."""
        from content_extractor_spark.kernel.jpeg import encode_jpeg_solid

        plain = _pixel_stats(encode_jpeg_solid(40, 24, (37, 74, 111)))
        rst = _pixel_stats(
            encode_jpeg_solid(40, 24, (37, 74, 111), restart_every=4)
        )
        assert plain is not None and plain == rst

    def test_weighted_source_sample(self, spark):
        from content_extractor_spark.operators.curation import (
            weighted_source_sample,
        )

        docs = spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(400)],
            "doc_id int, source string",
        )
        weights = spark.createDataFrame(
            [("a", 1000), ("c", 500)], "source string, permille int"
        )
        out = weighted_source_sample(docs, weights).collect()
        # full weight keeps every 'a' doc; unlisted 'b' is dropped
        assert {r["source"] for r in out} == {"a"}
        assert len(out) == 200
        # deterministic across runs
        again = weighted_source_sample(docs, weights).collect()
        assert sorted(r["doc_id"] for r in out) == sorted(
            r["doc_id"] for r in again
        )


class TestDiscoveryAndBanding:

    def test_feed_urls_rss_and_atom(self, spark):
        """RSS items and Atom entries parse to (loc, published, title)
        rows: CDATA titles unwrap, entities decode, Atom falls back
        published->updated, itemless feeds yield nothing."""
        from content_extractor_spark.operators.scans import feed_urls

        rss = (
            "<rss><channel><title>Chan</title>"
            "<item><title><![CDATA[A &amp; B]]></title>"
            "<link>https://h0.example/a?x=1&amp;y=2</link>"
            "<pubDate>Mon, 05 Jul 2021 08:00:00 GMT</pubDate></item>"
            "<item><link>https://h0.example/b</link></item>"
            "</channel></rss>"
        )
        atom = (
            '<feed xmlns="http://www.w3.org/2005/Atom">'
            "<title>F</title>"
            '<entry><title>E1</title><link href="https://h1.example/e1"/>'
            "<updated>2021-07-05T08:00:00Z</updated></entry>"
            '<entry><title>E2</title>'
            '<link rel="alternate" href="https://h1.example/e2"/>'
            "<published>2021-07-06T09:00:00Z</published></entry>"
            "</feed>"
        )
        df = spark.createDataFrame(
            [("h0.example", rss), ("h1.example", atom),
             ("h2.example", "<rss><channel></channel></rss>")],
            "host string, xml string",
        )
        rows = {
            (r["host"], r["loc"]): (r["kind"], r["published"], r["title"])
            for r in feed_urls(df).collect()
        }
        assert rows[("h0.example", "https://h0.example/a?x=1&y=2")] == (
            "rss", "Mon, 05 Jul 2021 08:00:00 GMT", "A & B"
        )
        assert rows[("h0.example", "https://h0.example/b")] == (
            "rss", None, None
        )
        assert rows[("h1.example", "https://h1.example/e1")] == (
            "atom", "2021-07-05T08:00:00Z", "E1"
        )
        assert rows[("h1.example", "https://h1.example/e2")] == (
            "atom", "2021-07-06T09:00:00Z", "E2"
        )
        assert len(rows) == 4

    def test_sitemap_urls_urlset_and_index(self, spark):
        from content_extractor_spark.operators.scans import sitemap_urls

        urlset = (
            '<?xml version="1.0"?>'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            "<url><loc> https://a.com/p?x=1&amp;y=2 </loc>"
            "<lastmod>2021-07-01</lastmod></url>"
            "<url><loc>https://a.com/q</loc></url></urlset>"
        )
        index = ("<sitemapindex><sitemap><loc>https://a.com/sm1.xml</loc>"
                 "</sitemap></sitemapindex>")
        df = spark.createDataFrame(
            [("a.com", urlset), ("a.com", index)], "host string, xml string"
        )
        rows = sorted(
            (r["kind"], r["loc"], r["lastmod"])
            for r in sitemap_urls(df).collect()
        )
        assert rows == [
            ("sitemap", "https://a.com/sm1.xml", None),
            # loc trimmed, &amp; unescaped; lastmod paired per-entry
            ("url", "https://a.com/p?x=1&y=2", "2021-07-01"),
            ("url", "https://a.com/q", None),
        ]

    def test_perplexity_bands_head_vs_tail(self, spark):
        from content_extractor_spark.operators.textstats import (
            perplexity_bands,
        )

        rows = [(i, "the the the common words here", "en") for i in range(4)]
        rows += [(10 + i, f"zzz{i} qqq{i} xxx{i} vvv{i} kkk{i}", "en")
                 for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
        out = perplexity_bands(df, bands=2).collect()
        bands = {r["doc_id"]: r["band_name"] for r in out}
        # common-token docs land in head, rare-token gibberish in tail
        assert all(bands[i] == "head" for i in range(4))
        assert all(bands[10 + i] == "tail" for i in range(4))
        # deterministic: identical on re-run
        again = {r["doc_id"]: r["band_name"]
                 for r in perplexity_bands(df, bands=2).collect()}
        assert again == bands

    def test_line_features_gopher_signals(self, spark):
        from content_extractor_spark.operators.textstats import line_features

        df = spark.createDataFrame(
            [(1, "- a\n- b\nplain line\nends...\n\n"),
             (2, ""), (3, None)],
            "doc_id int, text string",
        )
        rows = {r["doc_id"]: (r["n_lines"], r["bullet_line_frac"],
                              r["ellipsis_line_frac"], r["mean_line_chars"])
                for r in line_features(df).collect()}
        assert rows[1] == (4, 0.5, 0.25, 5.75)
        # empty and NULL text both yield clean zeros, never NULL/NaN
        assert rows[2] == (0, 0.0, 0.0, 0.0)
        assert rows[3] == (0, 0.0, 0.0, 0.0)


class TestImageHashing:
    """Perceptual aHash/dHash over real decoded rasters + banded
    near-dup pairing (the multimodal arm of the dedup families)."""

    @staticmethod
    def _p6(w, h, pix):
        return f"P6\n{w} {h}\n255\n".encode() + bytes(pix)

    def test_hashes_cross_format_and_solid_invariants(self, spark):
        from content_extractor_spark.kernel.jpeg import encode_jpeg_solid
        from content_extractor_spark.operators.multimodal import image_hashes
        from content_extractor_spark.synth import (
            encode_bmp_solid,
            encode_gif_solid,
            encode_png_solid,
        )

        w, h = 16, 12
        media = spark.createDataFrame(
            [("p6", self._p6(w, h, bytes([128, 64, 32] * (w * h)))),
             ("png", encode_png_solid(w, h, (128, 64, 32))),
             ("bmp", encode_bmp_solid(w, h, (128, 64, 32))),
             ("gif", encode_gif_solid(w, h, (128, 64, 32))),
             ("jpeg", encode_jpeg_solid(w, h, (128, 64, 32))),
             ("junk", b"GIF89a not hashable here"),
             ("junk2", b"II*\x00 not an image either")],
            "media_ref string, payload binary",
        )
        rows = {r["media_ref"]: r for r in image_hashes(media).collect()}
        # solid image: ahash all-ones, dhash 0 — identical across ALL
        # five container formats (same luma path; JPEG's lossy
        # YCbCr roundtrip cannot move a solid off the solid invariant)
        for ref in ("p6", "png", "bmp", "gif", "jpeg"):
            assert rows[ref]["status"] == "ok", rows[ref]["error"]
            assert rows[ref]["fmt"] == {"p6": "ppm"}.get(ref, ref.rstrip("2"))
            assert rows[ref]["ahash"] == -1  # 0xFFFF... as int64
            assert rows[ref]["dhash"] == 0
        # GIF89a-prefixed garbage routes through the gif decoder and is
        # structurally rejected, never garbage-hashed
        assert rows["junk"]["status"] == "unsupported"
        assert rows["junk2"]["status"] == "unsupported"

    def test_pixel_stats_with_hashes_matches_join_form(self, spark):
        """The fused single-decode-stage operator must be row-identical
        to extract_pixel_stats ⋈ image_hashes on media_ref — including
        the error/unsupported rows on both legs."""
        from content_extractor_spark.kernel.jpeg import encode_jpeg_solid
        from content_extractor_spark.operators.multimodal import (
            extract_pixel_stats,
            image_hashes,
            pixel_stats_with_hashes,
        )
        from content_extractor_spark.synth import (
            encode_bmp_solid,
            encode_gif_solid,
            encode_png_solid,
        )

        w, h = 9, 7
        media = spark.createDataFrame(
            [("p6", self._p6(w, h, bytes([10, 200, 77] * (w * h)))),
             ("png", encode_png_solid(w, h, (1, 2, 3))),
             ("bmp", encode_bmp_solid(w, h, (250, 0, 125))),
             ("gif", encode_gif_solid(w, h, (9, 9, 9))),
             ("jpeg", encode_jpeg_solid(w, h, (33, 66, 99))),
             ("junk", b"GIF89a not an image"),
             ("nullrow", None)],
            "media_ref string, payload binary",
        )
        fused = pixel_stats_with_hashes(media)
        ref = extract_pixel_stats(media).drop("error").join(
            image_hashes(media).select("media_ref", "ahash", "dhash"),
            "media_ref",
        )
        assert fused.columns == ref.columns
        to_map = lambda df: {r["media_ref"]: tuple(r) for r in df.collect()}
        assert to_map(fused) == to_map(ref)

    def test_bmp_core_header_unsupported_on_both_legs(self, spark):
        """A 12-byte (OS/2 core) DIB header is refused even when the
        bytes where a BITMAPINFOHEADER would sit read like a valid
        24-bit one: stats and hashes reduce the same decoded raster,
        so neither leg reports a value for it."""
        from content_extractor_spark.operators.multimodal import (
            pixel_stats_with_hashes,
        )
        from content_extractor_spark.synth import encode_bmp_solid

        bmp = bytearray(encode_bmp_solid(9, 7, (250, 0, 125)))
        bmp[14:18] = (12).to_bytes(4, "little")  # DIB header size
        media = spark.createDataFrame(
            [("core", bytes(bmp))], "media_ref string, payload binary"
        )
        row = pixel_stats_with_hashes(media).collect()[0]
        assert row["status"] == "unsupported"
        assert row["ahash"] is None and row["dhash"] is None

    def test_repeated_window_spans(self, spark):
        """r6 substring-dedup family (Lee et al. 2022 shape): an exact
        window-length token span shared by two documents is flagged in
        BOTH (with its position); a span repeated inside one document
        is flagged too; unique text and too-short documents produce no
        rows."""
        from content_extractor_spark.operators.dedup_families import (
            repeated_window_spans,
        )

        shared = "alpha beta gamma delta"  # 4 tokens = one window
        rows = [
            (1, f"{shared} unique one two"),
            (2, f"intro words here {shared}"),
            (3, "totally different text with no repeats at all"),
            (4, f"{shared} pad {shared}"),  # internal repetition
            (5, "short doc"),               # < window tokens
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = sorted(
            (r["doc_id"], r["start"], r["occurrences"])
            for r in repeated_window_spans(df, window=4, stride=1).collect()
        )
        # the shared 4-token window occurs at: doc1 pos1, doc2 pos4,
        # doc4 pos1 and pos6 -> 4 occurrences each row
        assert got == [(1, 1, 4), (2, 4, 4), (4, 1, 4), (4, 6, 4)]
        # stride > 1 samples start positions 1, 3, 5, ... — doc2's
        # match at position 4 is skipped, doc4 keeps 1 but loses 6
        got2 = sorted(
            (r["doc_id"], r["start"], r["occurrences"])
            for r in repeated_window_spans(df, window=4, stride=2).collect()
        )
        assert got2 == [(1, 1, 2), (4, 1, 2)]

        # solid-vs-solid: 'other' also dHash-0 — the point of THIS test
        # is only that the jpeg/png twin pair exists at hamming 0

    def test_gif_interlaced_deinterlaces(self):
        """Hand-built interlaced GIF (h=4, one palette index per
        logical row, storage order 0,2,1,3 per the 4-pass spec) —
        the decoded raster comes back in LOGICAL row order; the channel
        means stay order-blind."""
        import struct

        w, h = 2, 4
        hdr = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)
        pal = bytes([10, 10, 10, 60, 60, 60, 110, 110, 110,
                     210, 210, 210])  # 4 gray entries
        desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)  # interlaced
        # storage rows = logical rows [0, 2, 1, 3]; each pixel emitted
        # as CLEAR+literal so the LZW table never grows (3-bit codes)
        codes = []
        for row in (0, 2, 1, 3):
            codes += [4, row, 4, row]
        codes.append(5)  # EOI
        acc = nbits = 0
        payload = bytearray()
        for c in codes:
            acc |= c << nbits
            nbits += 3
            while nbits >= 8:
                payload.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            payload.append(acc & 0xFF)
        stream = bytes([2, len(payload)]) + bytes(payload) + b"\x00"
        gif = hdr + pal + desc + stream + b"\x3b"
        got = decode_pixels(gif)
        assert got is not None
        fmt, gw, gh, ch, samples = got
        gray = list(luma(ch, samples))
        assert (fmt, gw, gh) == ("gif", w, h)
        # logical rows come back in order: 10,10 / 60,60 / 110,110 / 210,210
        assert gray == [10, 10, 60, 60, 110, 110, 210, 210]
        # means path unchanged (order-blind)
        m = _pixel_stats(gif)
        assert m[4] == [97.5, 97.5, 97.5]


class TestSimhash64:
    def test_production_bits64_works_and_agrees(self, spark):
        """Regression: bits=64 (the documented corpus-scale setting)
        used to throw NumberFormatException — lit(2**63) overflows
        BIGINT. Bit 63 now lands in the int64 sign position (two's
        complement); expression and df forms agree, and the Hamming
        banding pairs exact duplicates at distance 0."""
        from content_extractor_spark.operators.dedup_families import (
            simhash,
            simhash_hamming_pairs,
            simhash_signatures_df,
        )

        rows = [(i, f"alpha beta gamma delta doc{i}") for i in range(6)]
        rows.append((100, rows[0][1]))  # exact dup of doc 0
        df = spark.createDataFrame(rows, "doc_id int, text string")
        sigs = dict(simhash_signatures_df(df, bits=64).collect())
        expr = dict(
            df.select("doc_id", simhash("text", 64).alias("s")).collect()
        )
        assert sigs == expr
        pairs = {(r["a"], r["b"]): r["hamming"]
                 for r in simhash_hamming_pairs(
                     df, bits=64, bands=8, max_hamming=4).collect()}
        assert pairs.get((0, 100)) == 0
        # >64 bits fails loudly instead of overflowing silently
        import pytest as _pytest
        with _pytest.raises(ValueError, match="bits <= 64"):
            simhash("text", 65)

    def test_minhash_num_perm_bound(self, spark):
        """num_perm=64 (the curate job's default) is exactly safe —
        (2*63+1) * a 56-bit hash stays under 2^63; 65 must fail loudly
        instead of silently wrapping negative."""
        from content_extractor_spark.operators.dedup_families import (
            minhash_signatures_df,
        )

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon")], "doc_id int, text string"
        )
        (row,) = minhash_signatures_df(df, num_perm=64).collect()
        assert len(row["sig"]) == 64
        assert all(v >= 0 for v in row["sig"])  # no silent wraparound
        import pytest as _pytest
        with _pytest.raises(ValueError, match="num_perm <= 64"):
            minhash_signatures_df(df, num_perm=65)


class TestBpe:

    def test_language_id_seven_languages(self, spark):
        from content_extractor_spark.operators.textstats import (
            detect_language,
        )

        df = spark.createDataFrame(
            [(1, "che cosa sono anche gli altri della città"),
             (2, "não sei você também uma coisa são boas"),
             (3, "het is een mooi huis niet voor niets zijn we hier"),
             (4, "xyzzy qwerty plugh")],
            "doc_id int, text string",
        )
        got = dict(
            df.select("doc_id", detect_language("text").alias("l")).collect()
        )
        assert got == {1: "it", 2: "pt", 3: "nl", 4: "und"}

    def test_bigram_logprob_hand_computed(self, spark):
        """Laplace bigram LM pinned against hand arithmetic.

        Corpus bigrams: C(a b)=1, C(b a)=2; histories C(a,*)=1,
        C(b,*)=2; successor vocab V = |{a, b}| = 2. So
        p(b|a) = (1+1)/(1+2) = 2/3 and p(a|b) = (2+1)/(2+2) = 3/4.
        """
        import math

        from content_extractor_spark.operators.textstats import (
            bigram_logprob,
        )

        df = spark.createDataFrame(
            [(1, "a b a"), (2, "b a"), (3, "x")],
            "doc_id int, text string",
        )
        got = {
            r["doc_id"]: (r["mean_logprob"], r["n_bigrams"])
            for r in bigram_logprob(df).collect()
        }
        d1 = round((math.log(2 / 3) + math.log(3 / 4)) / 2, 6)
        d2 = round(math.log(3 / 4), 6)
        assert got == {1: (d1, 2), 2: (d2, 1), 3: (0.0, 0)}

    def test_language_id_wide_ladder(self, spark):
        """r5 widening: ru/pl/sv/da markers + CJK script detection.

        One pinned row per new language, plus the decisive-script rules
        (kana beats han even when han chars dominate; hangul+han -> ko)
        and the earliest-language tie-break on equal marker hits.
        """
        from content_extractor_spark.operators.textstats import (
            detect_language,
        )

        df = spark.createDataFrame(
            [
                (1, "и это не на что похоже совсем"),  # ru (cyrillic markers)
                (2, "to jest dla nas oraz czy się uda"),  # pl
                (3, "och att det som är ett hus"),  # sv
                (4, "og til af er ikke mange"),  # da
                (5, "東京タワーは日本にある"),  # ja: han + katakana+hiragana
                (6, "한국어 문서입니다"),  # ko: hangul
                (7, "中文文档没有假名"),  # zh: han only, no kana
                (8, "日本語 ひらがな"),  # ja: kana decisive
                (9, "한국 漢字 혼용문"),  # ko: hangul + han, no kana
                # tie: one sv marker ('och') vs one da marker ('ikke')
                # -> sv, the earlier language in marker-table order
                (10, "och ikke zzz"),
            ],
            "doc_id int, text string",
        )
        got = dict(
            df.select("doc_id", detect_language("text").alias("l")).collect()
        )
        assert got == {
            1: "ru", 2: "pl", 3: "sv", 4: "da",
            5: "ja", 6: "ko", 7: "zh", 8: "ja", 9: "ko",
            10: "sv",
        }

    # one pinned sample per language of the r6 80-language ladder:
    # script tier (34), marker tier (11), char-trigram tier (36 more
    # Latin-script languages), plus an 'und' control. Trigram-tier
    # samples deliberately avoid tier-1 marker tokens so they exercise
    # the profile argmax, and each carries >= TRIGRAM_MIN_HITS
    # distinct profile grams.
    LADDER_SAMPLES = {
        "en": "the cat and the dog went to the park in town",
        "de": "der Hund und die Katze sind nicht da",
        "fr": "le chat et la souris mangent des pommes",
        "es": "el perro corre por la calle con los gatos",
        "it": "che bella giornata, anche i ragazzi sono felici della vita",
        "pt": "não sei se você vai, uma coisa é certa, são muitos também",
        "nl": "het is een mooie dag, niet voor iedereen die zijn huis verlaat",
        "pl": "to się dzieje, jest dobrze, oraz wszystko dla ciebie czy nie",
        "sv": "och det var en dag, att se som är fin, ett hus",
        "da": "og det er godt, til byen af mange grunde, ikke sandt",
        "ja": "これは日本語のテキストです",
        "ko": "이것은 한국어 텍스트입니다",
        "zh": "这是一段中文文本",
        "uk": "Це українська мова і її текст",
        "sr": "Ово је српски језик у писму",
        "bg": "Градът е красив и голям",
        "ru": "Это русский текст для проверки",
        "el": "Αυτό είναι ελληνικό κείμενο",
        "he": "זהו טקסט בעברית",
        "ur": "یہ اردو زبان کا متن ہے",
        "fa": "این پژوهش گزارش فارسی است",
        "ar": "هذا نص باللغة العربية",
        "mr": "हे मराठी भाषेतील वाक्य आहे, बाळ",
        "hi": "यह हिंदी भाषा का पाठ है",
        "bn": "এটি বাংলা ভাষার লেখা",
        "pa": "ਇਹ ਪੰਜਾਬੀ ਭਾਸ਼ਾ ਹੈ",
        "gu": "આ ગુજરાતી ભાષા છે",
        "or": "ଏହା ଓଡ଼ିଆ ଭାଷା",
        "ta": "இது தமிழ் மொழி",
        "te": "ఇది తెలుగు భాష",
        "kn": "ಇದು ಕನ್ನಡ ಭಾಷೆ",
        "ml": "ഇത് മലയാളം ഭാഷ",
        "si": "මෙය සිංහල භාෂාවකි",
        "th": "นี่คือข้อความภาษาไทย",
        "lo": "ນີ້ແມ່ນພາສາລາວ",
        "my": "ဤသည်မှာ မြန်မာဘာသာ",
        "ka": "ეს ქართული ენაა",
        "hy": "Սա հայերեն տեքստ է",
        "km": "នេះជាភាសាខ្មែរ",
        "am": "ይህ የአማርኛ ጽሑፍ ነው",
        "fi": "Käännös on pöydällä kyllä",
        "no": "Denne boken gjelder norske fjell, sjøen må bli fin",
        "cs": "České předpisy obsahují přílohy, většina ostatních",
        "sk": "Ľudia môžu pracovať, každý môže čokoľvek",
        "sl": "Slovenija je lepa dežela, tudi pozimi, veliko prijaznih ljudi",
        "hr": "Hrvatska povijest je zanimljiva, što se tako dogodilo, bojama",
        "hu": "Magyarország egy szép ország, ahol sok ember áll",
        "ro": "Aceasta este o țară frumoasă, oameni înțelegători, lucruri",
        "tr": "Türkiye çok güzel bir ülke, insanlar yorum yapıyor",
        "vi": "Người Việt Nam thường ăn cơm, cũng như mọi người",
        "id": "Orang Indonesia makan nasi, mereka menyukai banyak makanan",
        "ca": "Aquest text català parla amb els seus amics, què tal",
        "lt": "Lietuvos vyrai buvo namuose, jie ėjo namo, yra gerai",
        "lv": "Latvija ir skaista valsts, arī cilvēki grāmatas lasa, vēlme",
        "et": "Eesti keel on ilus, üks õpetaja ütles seda, aasta oli hea",
        "sq": "Gjuha shqipe është e bukur, për një njeri dhe uji",
        "af": "Hierdie boek is baie groot, dit gee ons nie veel nie, wat oor aan kom",
        "sw": "Watu wanasema kwamba chakula ni kizuri, wanaweza kuamba mambo",
        "is": "Það var öllum ljóst að hann gekk inn í bæinn, sem sagði maður",
        "be": "Гэта беларуская мова і ў ёй тэкст",
        "mk": "Ова е македонски јазик, ќе одиме",
        "kk": "Бұл қазақ тілі мәтіні",
        "mn": "Энэ бол монгол хэл дээрх текст юм, өдөр",
        "az": "Azərbaycan dili çox gözəl dildir, əsrlər boyu",
        "mt": "Il-belt għandha ħafna toroq sbieħ, żmien twil",
        "cy": "Mae mynyddoedd yn hardd iawn, roedd gwlad dda",
        "ga": "Tá an teanga Gaeilge go hálainn, bhfuil sé anseo",
        "eu": "Euskara hizkuntza ederra da, mendiak eta itsasoa",
        "gl": "A cidade galega ten unha praia fermosa, rúas e xente",
        "tl": "Ang mga bata ay naglalaro sa parke, ito ang kanilang lugar",
        "so": "Waxaan rabaa inaan barto luuqadda soomaaliga, waa luuqad qurux badan",
        "zu": "Abantu abaningi bathanda ukudla okumnandi, izingane ziyajabula",
        "ha": "Mutanen suka zo wannan gari, ƙasar Hausa tana da kyau",
        "yo": "Àwọn ọmọ wọ́nyí fẹ́ràn láti kàwé, ẹni tí ó dára ni",
        "ig": "Ndị mmadụ chọrọ ka ụlọ ha dị mma, nke a bụ ezi okwu",
        "eo": "Ĉiuj homoj naskiĝas liberaj kaj egalaj, ĉi tiu lingvo estas bela kaj ĝoja",
        "la": "Gallia est omnis divisa, quarum unam incolunt Belgae, altera pars erat",
        "br": "An dud a gomz brezhoneg hag an avel a c'hwezh dre ar vro",
        "lb": "Ech si frou datt d'Sonn haut esou schéi schéngt, de Wee ass gutt",
        "mg": "Ny olona rehetra dia te-hahalala zavatra maro, fanahy tsara",
        "und": "zxqv qqq zzz 12345",
    }

    def test_language_id_80_language_ladder(self, spark):
        """r6 widening: every language of the 3-tier ladder pinned.

        Also asserts the inventory counts so a profile-table edit that
        drops a language fails loudly here, not in the field.
        """
        from content_extractor_spark.operators.textstats import (
            LANG_MARKERS,
            LANG_TRIGRAMS,
            SCRIPT_LADDER,
            detect_language,
        )

        script_langs = {lang for lang, _ in SCRIPT_LADDER}
        all_langs = script_langs | set(LANG_MARKERS) | set(LANG_TRIGRAMS)
        assert len(all_langs) == 80  # ru is both script- and marker-tier
        assert set(self.LADDER_SAMPLES) == all_langs | {"und"}

        df = spark.createDataFrame(
            list(self.LADDER_SAMPLES.items()), "expected string, text string"
        )
        got = {
            r["expected"]: r["l"]
            for r in df.select(
                "expected", detect_language("text").alias("l")
            ).collect()
        }
        bad = {k: v for k, v in got.items() if k != v}
        assert not bad, bad

    def test_language_id_trigram_tier_rules(self, spark):
        """Tier-3 contract: a single tier-1 marker hit beats any trigram
        score; one profile gram is below TRIGRAM_MIN_HITS -> 'und'; and
        the SCRIPT_MIN_CHARS guard keeps a stray script symbol from
        flipping the call while two script chars still engage the
        script tier."""
        from content_extractor_spark.operators.textstats import (
            detect_language,
        )

        df = spark.createDataFrame(
            [
                # Finnish trigrams + ONE English marker token -> en
                (1, "the Käännös on pöydällä kyllä"),
                # exactly one profile gram ('ssä') -> below threshold
                (2, "ssä zzz qqq"),
                # ONE stray Greek char: below SCRIPT_MIN_CHARS — stays
                # in the Latin tiers (no markers, <2 trigrams -> und)
                (3, "mostly latin words with π inside"),
                # two Greek chars clear the guard -> script tier -> el
                (4, "the formula uses π and φ constants"),
            ],
            "doc_id int, text string",
        )
        got = dict(
            df.select("doc_id", detect_language("text").alias("l")).collect()
        )
        assert got == {1: "en", 2: "und", 3: "und", 4: "el"}

    def test_with_detected_language_matches_column_form(self, spark):
        """r7 perf refactor guard: the stacked-projection transform
        must agree with the Column form on every ladder sample
        (script/marker/trigram tiers, und, tie-breaks) — same values,
        only the evaluation count per row changes."""
        from content_extractor_spark.operators.textstats import (
            detect_language,
            with_detected_language,
        )

        rows = list(self.LADDER_SAMPLES.items()) + [
            ("en", "the Käännös on pöydällä kyllä"),
            ("und", "ssä zzz qqq"),
            ("und", "mostly latin words with π inside"),
            ("el", "the formula uses π and φ constants"),
            ("sv", "och ikke zzz"),
            ("und", ""),
        ]
        df = spark.createDataFrame(rows, "expected string, text string")
        got = (
            with_detected_language(df)
            .withColumn("col_form", detect_language("text"))
            .where(F.col("lang_detected") != F.col("col_form"))
            .collect()
        )
        assert not got, got

    def test_linear_quality_score_parity(self, spark):
        """Trained-filter exemplar: the Catalyst hashed bag-of-words
        linear scorer agrees bit-for-bit with a pure-Python mirror
        (same crc32 hashing trick, same sigmoid) on every document —
        the contract that lets real offline-trained weights plug in."""
        import math
        import re
        import zlib

        from content_extractor_spark.operators.textstats import (
            linear_quality_score,
        )

        weights = [0.7, -1.3, 0.05, 2.0, -0.4, 0.9, -2.2, 0.15]
        bias = -0.25

        def py_score(text):
            toks = re.split(r"\s+", text.lower())
            z = bias + sum(
                weights[zlib.crc32(t.encode("utf-8")) % len(weights)]
                for t in toks
            )
            return 1.0 / (1.0 + math.exp(-z))

        rows = [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "spam spam spam spam spam buy now"),
            (3, "a"),
            (4, ""),
            (5, "  leading and   irregular   spacing  "),
            (6, "Ünïcödé tökens über alles"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = dict(
            linear_quality_score(df, weights, bias)
            .select("doc_id", "ml_q_score").collect()
        )
        for did, text in rows:
            assert got[did] == py_score(text), (did, text)
        # scores actually vary across documents
        assert len(set(got.values())) > 1

    def test_curate_funnel_ml_quality_stage(self, spark, tmp_path):
        """The --ml-quality-weights flag inserts the trained filter
        after the heuristic quality stage: with weights crafted to
        sink one specific document, that document drops as
        ml_quality; with the flag off the stage never fires."""
        import json as _json
        import math
        import re
        import zlib

        from jobs.curate_job import flag_documents, resolve_config

        weights = [0.0] * 16
        bias = 3.0  # everyone passes by default
        spam_tok = "zzzspamzzz"
        weights[zlib.crc32(spam_tok.encode()) % 16] = -2.0

        def py_score(text):
            toks = re.split(r"\s+", text.lower())
            z = bias + sum(
                weights[zlib.crc32(t.encode()) % 16] for t in toks
            )
            return 1.0 / (1.0 + math.exp(-z))

        base = "the and of to in " + " ".join(f"w{j}" for j in range(20))
        spammy = base + (" " + spam_tok) * 8
        assert py_score(spammy) < 0.5 < py_score(base)

        wpath = tmp_path / "w.json"
        wpath.write_text(_json.dumps({"weights": weights, "bias": bias}))
        docs = spark.createDataFrame(
            [(1, base, "s0"), (2, spammy, "s0")],
            "doc_id long, text string, source string",
        )
        cfg = resolve_config(
            ["--input", "-", "--output", "-",
             "--ml-quality-weights", str(wpath)]
        )
        flagged, cached = flag_documents(docs, cfg)
        got = dict(flagged.select("doc_id", "drop_reason").collect())
        cached.unpersist()
        assert got == {1: None, 2: "ml_quality"}

        cfg_off = resolve_config(["--input", "-", "--output", "-"])
        flagged, cached = flag_documents(docs, cfg_off)
        got = dict(flagged.select("doc_id", "drop_reason").collect())
        cached.unpersist()
        # flag off: the stage never fires — the spammy doc still falls
        # to the LOWER-priority heuristic repetition filter, proving
        # ml_quality sits between quality and repetition when enabled
        assert got == {1: None, 2: "repetition"}


class TestBigramDifferential:
    def test_bigram_lm_matches_pure_python(self, spark):
        """Differential: the distributed Laplace bigram LM must equal a
        direct single-process implementation on a small random corpus
        (counts, histories, vocabulary, smoothing, sentinels)."""
        import math
        import random

        from content_extractor_spark.operators.textstats import (
            bigram_logprob,
        )

        rng = random.Random(7)
        words = ["alpha", "beta", "gamma", "delta", "x"]
        docs = [
            (i, " ".join(rng.choice(words)
                         for _ in range(rng.randint(0, 9))))
            for i in range(25)
        ]
        df = spark.createDataFrame(docs, "doc_id int, text string")
        got = {
            r["doc_id"]: (r["mean_logprob"], r["n_bigrams"])
            for r in bigram_logprob(df).collect()
        }

        # pure-python reference
        from collections import Counter

        per_doc = {}
        corpus = Counter()
        for i, text in docs:
            toks = [t for t in text.lower().strip().split() if t != ""]
            bgs = [(toks[j], toks[j + 1]) for j in range(len(toks) - 1)]
            per_doc[i] = Counter(bgs)
            corpus.update(bgs)
        hist = Counter()
        for (u, _v), c in corpus.items():
            hist[u] += c
        vocab = len({v for (_u, v) in corpus})
        want = {}
        for i, _text in docs:
            cnt = per_doc[i]
            n = sum(cnt.values())
            if n == 0:
                want[i] = (0.0, 0)
                continue
            s = sum(
                c * math.log((corpus[bg] + 1.0) / (hist[bg[0]] + vocab))
                for bg, c in cnt.items()
            )
            want[i] = (round(s / n, 6), n)
        assert got == want


class TestPqRecall:
    def test_adc_top1_matches_exact_on_separated_data(self, spark):
        """On well-separated data, PQ ADC top-1 must agree with exact
        euclidean top-1 (the quantization error is far smaller than the
        inter-cluster distance) — pins that ADC approximates true NN
        ranking, not just that it runs."""
        import random

        from content_extractor_spark.operators.similarity import (
            pq_adc_distances,
            pq_encode,
            pq_train_codebooks,
        )

        rng = random.Random(11)
        centers = [[5.0] * 8, [-5.0] * 8, [5.0] * 4 + [-5.0] * 4]
        rows = []
        for i in range(30):
            c = centers[i % 3]
            rows.append(
                (i, [x + rng.uniform(-0.2, 0.2) for x in c])
            )
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        books = pq_train_codebooks(df, dim=8, m=4, k=3, iterations=2)
        encoded = pq_encode(df, books)
        for qi in (0, 1, 2):
            q = centers[qi]
            top = (
                pq_adc_distances(encoded, books, q)
                .orderBy("adc_dist", "vec_id").limit(10).collect()
            )
            got_ids = {r["vec_id"] for r in top}
            exact = {i for i, _ in rows if i % 3 == qi}
            assert got_ids == exact, (qi, sorted(got_ids))
