"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship extraction pipeline on sf0.001.
`queries()` exposes every implemented operator family from SURVEY.md §2
plus the training-data operators; `oracle_sql()` gives the DuckDB-
runnable ANSI-SQL equivalent for each (identical column names/aliases).
Hash-dependent queries use a portable md5-derived 56-bit hash computed
identically in Spark (`conv(substr(md5(x),1,14),16,10)`) and DuckDB
(`('0x'||substr(md5(x),1,14))::BIGINT`).

Non-SQL-expressible ops (HTML extraction; anything needing a DOM) omit
the oracle entry -> driver records the weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: extraction pipeline over an interleaved spans corpus derived
# deterministically from the documents table (input_hint shape)
# ---------------------------------------------------------------------------

_FLAGSHIP_PROFILE = {
    "profile": {
        "hostname": "www.docs.example",
        "pageTypes": [
            {
                "name": "article",
                "condition": {"selector": "div#content-main"},
                "selectors": {
                    "title": "h1.title",
                    "summary": "p.lead",
                    "content": {
                        "selector": "div#content-main",
                        "excludeSelectors": [".ad-slot", "nav.breadcrumb"],
                    },
                    "date": {
                        "selector": "time.published",
                        "attributeVal": "datetime",
                        "format": "yyyy-MM-dd'T'HH:mm:ssX",
                    },
                    "tags": ".tag-list .tag",
                },
            }
        ],
    }
}


def _docs_as_span_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap each testdata document in an HTML page and encode it as the
    interleaved spans schema — all JVM-side (concat/named_struct)."""
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>t</title></head><body><header>"
              "<h1 class='title'>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" ["),
        F.col("lang"),
        F.lit("/"),
        F.col("source"),
        F.lit("]</h1></header><div id='content-main'>"
              "<nav class='breadcrumb'>Home / Docs</nav>"
              "<p class='lead'>"),
        F.substring(F.col("text"), 1, 80),
        F.lit("</p><time class='published' datetime='2021-07-0"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit("T12:00:00Z'>x</time><p>"),
        F.col("text"),
        F.lit("</p><div class='ad-slot'>AD</div></div>"
              "<ul class='tag-list'><li class='tag'>"),
        F.col("lang"),
        F.lit("</li><li class='tag'>"),
        F.col("source"),
        F.lit("</li></ul></body></html>"),
    )
    # two text spans + one media span, offsets 0..2 (interleaved shape)
    spans = F.expr(
        """
        array(
          named_struct('kind','text',
                       'text', substring(_html, 1, cast(length(_html)/2 as int)),
                       'media_ref', cast(null as string), 'offset', 0),
          named_struct('kind','media', 'text', cast(null as string),
                       'media_ref', concat('s3://assets/', cast(_did as string)),
                       'offset', 1),
          named_struct('kind','text',
                       'text', substring(_html, cast(length(_html)/2 as int)+1,
                                         length(_html)),
                       'media_ref', cast(null as string), 'offset', 2)
        )
        """
    )
    return (
        docs.withColumn("_html", html)
        .withColumn("_did", F.col("doc_id"))
        .select(
            F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
            spans.alias("spans"),
            F.lit("www.docs.example").alias("host"),
            F.concat(F.lit("https://www.docs.example/a/"), F.col("doc_id").cast("string")).alias("url"),
            F.concat(F.lit("url-"), F.col("doc_id").cast("string")).alias("url_id"),
            F.lit("1970-01-01T00:00:00Z").alias("last_crawl"),
            F.lit(None).cast("string").alias("etag"),
        )
    )


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full extraction over the interleaved corpus (non-SQL op)."""
    from content_extractor_spark.kernel.profiles import profile_from_dict
    from content_extractor_spark.operators.extract import extract_entries
    from content_extractor_spark.operators.skew import spread

    corpus = _docs_as_span_corpus(spark, sf_dir)
    profiles = {"www.docs.example": profile_from_dict(_FLAGSHIP_PROFILE)}
    # spread: the sf documents table is ONE parquet file, so the scan
    # is a single split and the map-only Python stage would run on one
    # core (measured 12.2s -> 1.5s at sf1.0 on 32 cores)
    out = extract_entries(spread(corpus), profiles)
    # every projected column is value-checked against the DuckDB oracle
    # (the corpus HTML is synthesized in SQL above, so title/summary/
    # content/date/tags/n_spans are all SQL-reconstructible);
    # content_hash (Scala Tuple4 hashCode, not SQL-expressible) is
    # value-pinned separately by tests/test_kernel_dates_hash_url.py
    # tags is projected as a joined scalar (not array<string>): the
    # driver's pandas-based canonicalizer sorts every column and cannot
    # factorize list cells (r2: "unhashable type: 'list'").
    return out.select(
        "doc_id", "status", "profile_name", "title", "summary", "date",
        F.concat_ws("|", "tags").alias("tags_s"), "content",
        F.size(F.coalesce(F.col("spans"), F.array())).alias("n_spans"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_spans(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# portable hash, DuckDB side (the Spark side is dedup_families.portable_hash)
# ---------------------------------------------------------------------------

_PH = "(('0x'||substr(md5({x}),1,14))::BIGINT)"


# ---------------------------------------------------------------------------
# reference-shaped relational operators (SURVEY §2) on the testdata tables
# ---------------------------------------------------------------------------

def q_scan_filters(spark, sf_dir):
    """P1 + S3 in one driver row (reference: UrlHandler file-ending
    exclusions and the lastCrawl time-range scan, ArticleReader.scala).

    Two independent pushed-down scan probes, unioned on an aligned
    (probe, key, n, agg_val) shape so both get a value-exact driver
    check: ANDed case-insensitive not-contains predicates over
    documents, and an incremental range predicate over events
    (partition-prunable at scale).
    """
    docs = _t(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))
    excluded = lowered.contains("slow") | lowered.contains("error") | lowered.contains("null")
    excl = (
        docs.filter(~excluded)
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars"))
        .select(
            F.lit("exclusions").alias("probe"),
            F.col("lang").alias("key"),
            "n",
            F.col("sum_chars").cast("double").alias("agg_val"),
        )
    )
    ev = _t(spark, sf_dir, "events")
    rng = (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-03 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            # decimal sum: deterministic across partition orders (doubles
            # would accumulate order-dependently and can flip the rounding)
            F.round(F.sum(F.col("value").cast("decimal(24,6)")), 3)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.lit("time_range").alias("probe"),
            F.col("event_type").alias("key"),
            "n",
            F.col("sum_value").alias("agg_val"),
        )
    )
    return excl.unionByName(rng)


def q_broadcast_dim_join(spark, sf_dir):
    # O1: fact ⋈ broadcast(dim) ⋈ broadcast(dim)
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(24,6)")), 2)
            .cast("double")
            .alias("sum_acctbal"),
        )
    )


def q_first_entry_per_key(spark, sf_dir):
    # A6/"first=Some(1)": latest event per user via row_number()=1
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q_exact_dedup_keep(spark, sf_dir):
    # A2-family: first-writer-wins per content digest
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("digest"), F.col("doc_id"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


def q_window_dedup_rank(spark, sf_dir):
    # A2: row_number over hash partition; kept rows per lang
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("lang")
        .agg(F.count("*").alias("kept"))
    )


def q_create_update_skip(spark, sf_dir):
    # A3/A5/A6: new-vs-existing field compare -> action dispatch
    docs = _t(spark, sf_dir, "documents")
    new = docs.select("doc_id", "lang", "source")
    existing = (
        docs.where(F.col("doc_id") % 3 != 2)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 5 == 0, F.lit("xx")).otherwise(F.col("lang")).alias("lang"),
            "source",
        )
    )
    ex = existing.select(
        F.col("doc_id").alias("e_id"), F.col("lang").alias("e_lang"),
        F.col("source").alias("e_source"),
    )
    joined = new.join(ex, new["doc_id"] == ex["e_id"], "left")
    action = (
        F.when(F.col("e_id").isNull(), F.lit("create"))
        .when(
            ~(F.col("lang").eqNullSafe(F.col("e_lang"))
              & F.col("source").eqNullSafe(F.col("e_source"))),
            F.lit("update"),
        )
        .otherwise(F.lit("skip"))
    )
    return joined.withColumn("action", action).groupBy("action").agg(
        F.count("*").alias("n")
    )


def q_tag_dim_upsert(spark, sf_dir):
    # A7: explode -> ci-distinct -> left-anti vs dim -> deterministic ids
    from content_extractor_spark.operators.dedup_families import portable_hash

    docs = _t(spark, sf_dir, "documents")
    nat = _t(spark, sf_dir, "nation")
    scraped = (
        docs.select(F.explode(F.array(F.col("lang"), F.col("source"))).alias("tag"))
        .withColumn("tag_key", F.lower(F.col("tag")))
        .groupBy("tag_key")
        .agg(F.min("tag").alias("name"))
    )
    dim = nat.select(F.lower(F.col("n_name")).alias("tag_key")).distinct()
    return (
        scraped.join(dim, "tag_key", "left_anti")
        .select(
            "tag_key", "name",
            F.concat(F.lit("tag-"), portable_hash(F.col("tag_key"))).alias("tag_id"),
        )
    )


def q_dup_probe_joins(spark, sf_dir):
    """O7 + A2 in one driver row: the ETag short-circuit (left-anti on
    (key, signature) — skip unchanged rows) and the duplicate-hash
    probe (left-semi on content digest — rows already known), unioned
    on an aligned (probe, lang, n) shape. Reference: Mutator.scala
    conditional-GET skip and the contentHash duplicate disable.
    """
    docs = _t(spark, sf_dir, "documents")
    snapshot = docs.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("s_id"), F.md5("text").alias("s_sig")
    )
    etag = (
        docs.join(
            snapshot,
            (docs["doc_id"] == snapshot["s_id"]) & (F.md5("text") == snapshot["s_sig"]),
            "left_anti",
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .select(F.lit("etag_anti").alias("probe"), "lang", "n")
    )
    known = docs.where(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("k_sig")
    )
    semi = (
        docs.join(known, F.md5(docs["text"]) == known["k_sig"], "left_semi")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .select(F.lit("dup_semi").alias("probe"), "lang", "n")
    )
    return etag.unionByName(semi)


def q_salted_host_agg(spark, sf_dir):
    # explicit skew handling: two-phase salted aggregation over the
    # skew-prone grouping key; result is identical to a plain GROUP BY
    # (the oracle), the plan bounds any reducer to ~1/salt of a hot key
    from content_extractor_spark.operators.skew import salted_agg

    docs = _t(spark, sf_dir, "documents")
    return salted_agg(
        docs,
        key_cols=["source"],
        aggs={
            "n": ("count", None),
            "sum_chars": ("sum", "n_chars"),
            "min_doc": ("min", "doc_id"),
            "max_doc": ("max", "doc_id"),
        },
        salt=8,
        id_col="doc_id",
    )


def q_media_features(spark, sf_dir):
    """Multimodal container plumbing in one driver row: opaque binary
    payloads (utf-8 text bytes — fmt unresolvable, sha256 checked) AND
    real PNG container decode (signature + IHDR parsed back to
    doc_id-derived dims) through the same mapInPandas batch UDF.
    sha256 is projected only for the text payloads — DuckDB's sha256()
    takes VARCHAR, so the binary-payload hash is pinned by pytest
    instead (tests/test_operators.py::TestMultimodal).
    """
    from content_extractor_spark.operators.multimodal import extract_image_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    assets = docs.select(
        F.concat(F.lit("asset-"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    w = (F.col("doc_id") % 640 + 1).cast("int")
    h = (F.col("doc_id") % 480 + 1).cast("int")
    png = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A0000000D49484452"),
            F.lpad(F.hex(w), 8, "0"),
            F.lpad(F.hex(h), 8, "0"),
            F.lit("0806000000DEADBEEF"),
        )
    )
    imgs = docs.select(
        F.concat(F.lit("img-"), F.col("doc_id").cast("string")).alias("media_ref"),
        png.alias("payload"),
    )
    feats = extract_image_features(assets.unionByName(imgs))
    # sentinels instead of NULLs (unresolvable fmt/dims on the opaque
    # text payloads): int columns with NULLs degrade to float64 in the
    # pandas bridges — keep the driver's dtype compare unambiguous
    return feats.select(
        "media_ref",
        F.coalesce(F.col("fmt"), F.lit("unknown")).alias("fmt"),
        F.coalesce(F.col("width"), F.lit(-1)).alias("width"),
        F.coalesce(F.col("height"), F.lit(-1)).alias("height"),
        "n_bytes",
        F.when(F.col("media_ref").startswith("asset-"), F.col("sha256"))
        .otherwise(F.lit("")).alias("sha256"),
    )


def q_pixel_stats_all(spark, sf_dir):
    """REAL pixel decode across all five supported raster formats in
    one driver row (r3 verdict: fold the per-format queries into one
    multi-format query). Per document, four independently-encoded
    solid-color payloads (PNG with the scanline filter type cycling
    0..4, GIF variable-width LZW, baseline JPEG with flat quant
    tables — a constant block is DC-only, so it round-trips exactly —
    and 24-bit bottom-up BMP) are produced by one mapInPandas encoder
    stage, unioned with an SQL-assembled binary Netpbm P6 payload, and
    decoded by ONE pixel_stats_with_hashes pass; the oracle reconstructs
    every channel mean from doc_id arithmetic (JPEG via the same
    floor(x+0.5) BT.601 round trip).
    """
    from content_extractor_spark.kernel.jpeg import encode_jpeg_solid
    from content_extractor_spark.operators.multimodal import (
        pixel_stats_with_hashes,
    )
    from content_extractor_spark.synth import (
        encode_bmp_solid,
        encode_gif_solid,
        encode_png_solid,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)

    # Netpbm P6 assembled entirely in SQL (no Python encode stage)
    w = (F.col("doc_id") % 16 + 1).cast("int")
    h = (F.col("doc_id") % 8 + 1).cast("int")
    px_hex = F.concat(
        F.lpad(F.hex(F.col("doc_id") % 256), 2, "0"),
        F.lpad(F.hex(F.col("doc_id") * 2 % 256), 2, "0"),
        F.lpad(F.hex(F.col("doc_id") * 3 % 256), 2, "0"),
    )
    header = F.encode(
        F.concat(
            F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"),
            F.lit("\n255\n"),
        ),
        "utf-8",
    )
    ppm = docs.select(
        F.concat(F.lit("pix-"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.concat(header, F.unhex(F.repeat(px_hex, w * h))).alias("payload"),
    )

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            refs, payloads = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                refs.append(f"png-{d}")
                payloads.append(encode_png_solid(
                    d % 16 + 1, d % 8 + 5,
                    (d % 256, d * 2 % 256, d * 3 % 256),
                ))
                refs.append(f"gif-{d}")
                payloads.append(encode_gif_solid(
                    d % 12 + 1, d % 9 + 1,
                    (d * 5 % 256, d * 7 % 256, d * 11 % 256),
                ))
                refs.append(f"jpg-{d}")
                payloads.append(encode_jpeg_solid(
                    d % 16 + 1, d % 8 + 1,
                    (d * 3 % 256, d * 5 % 256, d * 7 % 256),
                ))
                refs.append(f"bmp-{d}")
                payloads.append(encode_bmp_solid(
                    d % 10 + 1, d % 6 + 1,
                    (d * 13 % 256, d * 17 % 256, d * 19 % 256),
                ))
            yield pd.DataFrame({"media_ref": refs, "payload": payloads})

    encoded = docs.select("doc_id").mapInPandas(
        enc, schema="media_ref string, payload binary"
    )
    media = ppm.unionByName(encoded)
    # stats + perceptual hashes in ONE decode stage (the former
    # stats-join-hashes form ran the encode stage and the decode twice,
    # once per join branch): solid images hash to exact constants
    # (aHash all-ones = -1 as int64, dHash 0) on ALL five formats; the
    # -2 coalesce only guards a future truly-unsupported row
    return pixel_stats_with_hashes(media).select(
        "media_ref", "fmt", "width", "height", "channels",
        "mean_r", "mean_g", "mean_b", "status",
        F.coalesce(F.col("ahash"), F.lit(-2)).alias("ahash"),
        F.coalesce(F.col("dhash"), F.lit(-2)).alias("dhash"),
    )


def q_media_manifest(spark, sf_dir):
    # interleaved-spans media manifest (pure array ops, zero shuffle):
    # a variable-length alternating text/media document is synthesized
    # per row, so the oracle reconstructs every manifest row from
    # doc_id arithmetic
    from content_extractor_spark.operators.multimodal import media_manifest

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    spans = F.expr(
        """
        flatten(transform(sequence(0, cast(doc_id % 4 as int)), i -> array(
          named_struct('kind','text','text', concat('t', cast(i as string)),
                       'media_ref', cast(null as string),
                       'offset', cast(2*i as int)),
          named_struct('kind','media','text', cast(null as string),
                       'media_ref', concat('m-', cast(doc_id as string),
                                           '-', cast(i as string)),
                       'offset', cast(2*i+1 as int))
        )))
        """
    )
    corpus = docs.select("doc_id", spans.alias("spans"))
    return media_manifest(corpus)


def q_paragraph_dedup(spark, sf_dir):
    # paragraph-granularity exact dedup (training-data op): explode
    # sentence-ish chunks of 12 tokens, keep first (doc_id, idx) per
    # digest; unioned (r6) with the SUBSTRING-dedup family —
    # repeated_window_spans flags 12-token sliding windows (stride 6)
    # occurring >= 2 times across a doubled corpus, aggregated to the
    # same (digest, keep_doc, keep_idx, occurrences) shape
    from content_extractor_spark.operators.textstats import let_bound

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # let_bound: tokenize once per row (a free-variable toks inside the
    # transform lambda re-splits the text once per paragraph)
    paras = let_bound(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(0), F.floor((F.size(t) - 1) / 12).cast("int")),
            lambda i: F.concat_ws(" ", F.slice(t, i * 12 + 1, 12)),
        ),
    )
    exploded = docs.select(
        "doc_id", F.posexplode(paras).alias("idx", "para")
    ).where(F.col("para") != "")
    paragraphs = (
        exploded.groupBy(F.md5("para").alias("digest"))
        .agg(
            F.min(F.struct("doc_id", "idx")).alias("first"),
            F.count("*").alias("occurrences"),
        )
        .select(
            F.lit("paragraph").alias("kind"),
            "digest",
            F.col("first.doc_id").alias("keep_doc"),
            F.col("first.idx").alias("keep_idx"),
            "occurrences",
        )
    )
    from content_extractor_spark.operators.dedup_families import (
        repeated_window_spans,
    )

    flagged = repeated_window_spans(
        _doubled_docs(spark, sf_dir, limit=80), window=12, stride=6
    )
    windows = (
        flagged.groupBy("digest")
        .agg(
            F.min(F.struct("doc_id", "start")).alias("first"),
            F.count("*").alias("occurrences"),
        )
        .select(
            F.lit("window").alias("kind"),
            "digest",
            F.col("first.doc_id").alias("keep_doc"),
            F.col("first.start").alias("keep_idx"),
            "occurrences",
        )
    )
    return paragraphs.unionByName(windows)


def q_clean_urls(spark, sf_dir):
    # E13 as a vectorized UDF over synthesized dirty URLs; the oracle
    # reconstructs the cleaned form with pure string SQL
    from content_extractor_spark.functions.udfs import clean_url_udf

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    dirty = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".example/a"),
        F.lit(";jsessionid=ABC"), F.lit("/p"), F.col("doc_id").cast("string"),
        F.lit("?nn=1&q="), F.col("doc_id").cast("string"), F.lit("&download=x#frag"),
    )
    return docs.select(
        "doc_id", clean_url_udf(dirty).alias("clean_url")
    )


def q_density_extract(spark, sf_dir):
    # profile-free main-content extraction (DOM text-density heuristics):
    # run the span corpus through the extractor with NO profiles and the
    # density fallback on. The heuristics strip <nav>/<header> chrome
    # but keep the in-content ad div, so the oracle reconstructs
    # title + exact content length from the SQL-synthesized page
    from content_extractor_spark.operators.extract import extract_entries

    corpus = _docs_as_span_corpus(spark, sf_dir).where(
        F.col("doc_id").isin([f"doc-{i}" for i in range(100)])
    )
    out = extract_entries(corpus, {}, density_fallback=True)
    return out.select(
        "doc_id", "status", "profile_name", "title",
        F.length(F.coalesce(F.col("content"), F.lit(""))).alias("content_chars"),
    )


def q_pdf_text_roundtrip(spark, sf_dir):
    """Document-format parsing, both formats, one driver row: per doc,
    build a FlateDecode PDF (kind='pdf') AND a minimal OOXML .docx
    (kind='docx') inside the batch UDF from the same 10-word line
    wrapping, then extract the text back with the respective
    pure-Python parsers (the docx leg also round-trips the Dublin Core
    title). The oracle reconstructs the wrapping (and title) in SQL,
    so equality pins both encode->parse chains end to end.
    """
    import pandas as pd

    from content_extractor_spark.kernel import docx as docxmod
    from content_extractor_spark.kernel import pdftext

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select(
        "doc_id", "text"
    )

    def run(batches):
        for pdf in batches:
            out = {"kind": [], "doc_id": [], "title": [], "body": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split()
                lines = [
                    " ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)
                ]
                blob = pdftext.build_simple_pdf(lines)
                out["kind"].append("pdf")
                out["doc_id"].append(doc_id)
                out["title"].append("")
                out["body"].append(pdftext.extract_text(blob))
                dblob = docxmod.build_docx(lines, title=f"T{doc_id}")
                got = docxmod.extract_docx_text(dblob)
                out["kind"].append("docx")
                out["doc_id"].append(doc_id)
                out["title"].append(got["title"])
                out["body"].append(got["text"])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        run, schema="kind string, doc_id long, title string, body string"
    )


def q_two_phase_union(spark, sf_dir):
    # O6: phase-1 (new) ∪ phase-2 (existing) with a mode column
    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 4 == 0).withColumn("mode", F.lit("new"))
    existing = docs.where(F.col("doc_id") % 4 != 0).withColumn(
        "mode", F.lit("existing")
    )
    return (
        new.unionByName(existing)
        .groupBy("mode", "lang")
        .agg(F.count("*").alias("n"))
    )


def q_ci_distinct_tags(spark, sf_dir):
    # case-insensitive distinct (GraphQLHelper.scala:609-616 name_i)
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.array("lang", "source")).alias("tag"))
        .select(F.lower(F.col("tag")).alias("tag_key"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# TPC-H-shape engine breadth
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(24,6)"))
            .cast("double")
            .alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(24,6)")), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(24,6)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(24,6)"))
                / F.count("*"),
                4,
            )
            .cast("double")
            .alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_revenue_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(24,6)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    return (
        orders.join(rev, orders["o_orderkey"] == rev["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select("o_orderkey", "c_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# dedup families
# ---------------------------------------------------------------------------

def _doubled_docs(spark, sf_dir, limit=300):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < limit)
    clone = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    return docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(clone)


def q_minhash_signatures(spark, sf_dir):
    from content_extractor_spark.operators.dedup_families import minhash_signatures_df

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    sigs = minhash_signatures_df(docs, num_perm=8)
    return sigs.select(
        F.col("id").alias("doc_id"),
        F.posexplode(F.col("sig")).alias("perm", "minhash"),
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    from content_extractor_spark.operators.dedup_families import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _doubled_docs(spark, sf_dir), num_perm=16, num_bands=4,
        max_bucket=1000000,
    )


def q_simhash_groups(spark, sf_dir):
    # scalable shape: explode + per-bit SUM votes with map-side combine
    # (one pass over tokens) instead of bits aggregate-lambda passes per
    # row; values are identical, so the oracle is unchanged
    from content_extractor_spark.operators.dedup_families import (
        simhash_signatures_df,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return (
        simhash_signatures_df(docs, bits=16)
        .groupBy("sig")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def q_simhash_hamming_pairs(spark, sf_dir):
    # SimHash near-dup pairs within Hamming distance 2 via banded
    # blocking (pigeonhole: <=2 bit flips over 4 bands must leave one
    # band intact) — sound recall without an all-pairs join
    from content_extractor_spark.operators.dedup_families import (
        simhash_hamming_pairs,
    )

    return simhash_hamming_pairs(
        _doubled_docs(spark, sf_dir, limit=200),
        bits=16, bands=4, max_hamming=2,
    )


def q_dedup_clusters(spark, sf_dir):
    # pairs -> groups: iterative min-label connected components over the
    # LSH candidate pairs; oracle = recursive-CTE transitive closure
    from content_extractor_spark.operators.components import dedup_groups
    from content_extractor_spark.operators.dedup_families import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _doubled_docs(spark, sf_dir, limit=150),
        num_perm=16, num_bands=4, max_bucket=1000000,
    )
    return dedup_groups(pairs)


def q_ngram_jaccard_pairs(spark, sf_dir):
    from content_extractor_spark.operators.dedup_families import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _doubled_docs(spark, sf_dir, limit=150), k=3, threshold=0.8
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

# one native-text probe per language of the 59-language ladder —
# unioned into q_language_id so the driver's value gate exercises
# EVERY script/marker/trigram branch, not just the corpus's en/und
# mix. The oracle injects the same rows via generated VALUES, so both
# sides derive from this one table. No single quotes allowed (SQL
# literal embedding).
_LANG_PROBES = [
    "the cat and the dog went to the park in town",
    "der Hund und die Katze sind nicht da",
    "le chat et la souris mangent des pommes",
    "el perro corre por la calle con los gatos",
    "che bella giornata, anche i ragazzi sono felici della vita",
    "não sei se você vai, uma coisa é certa, são muitos também",
    "het is een mooie dag, niet voor iedereen die zijn huis verlaat",
    "to się dzieje, jest dobrze, oraz wszystko dla ciebie czy nie",
    "och det var en dag, att se som är fin, ett hus",
    "og det er godt, til byen af mange grunde, ikke sandt",
    "これは日本語のテキストです",
    "이것은 한국어 텍스트입니다",
    "这是一段中文文本",
    "Це українська мова і її текст",
    "Ово је српски језик у писму",
    "Градът е красив и голям",
    "Это русский текст для проверки",
    "Αυτό είναι ελληνικό κείμενο",
    "זהו טקסט בעברית",
    "یہ اردو زبان کا متن ہے",
    "این پژوهش گزارش فارسی است",
    "هذا نص باللغة العربية",
    "हे मराठी भाषेतील वाक्य आहे, बाळ",
    "यह हिंदी भाषा का पाठ है",
    "এটি বাংলা ভাষার লেখা",
    "ਇਹ ਪੰਜਾਬੀ ਭਾਸ਼ਾ ਹੈ",
    "આ ગુજરાતી ભાષા છે",
    "ଏହା ଓଡ଼ିଆ ଭାଷା",
    "இது தமிழ் மொழி",
    "ఇది తెలుగు భాష",
    "ಇದು ಕನ್ನಡ ಭಾಷೆ",
    "ഇത് മലയാളം ഭാഷ",
    "මෙය සිංහල භාෂාවකි",
    "นี่คือข้อความภาษาไทย",
    "ນີ້ແມ່ນພາສາລາວ",
    "ဤသည်မှာ မြန်မာဘာသာ",
    "ეს ქართული ენაა",
    "Սա հայերեն տեքստ է",
    "នេះជាភាសាខ្មែរ",
    "ይህ የአማርኛ ጽሑፍ ነው",
    "Käännös on pöydällä kyllä",
    "Denne boken gjelder norske fjell, sjøen må bli fin",
    "České předpisy obsahují přílohy, většina ostatních",
    "Ľudia môžu pracovať, každý môže čokoľvek",
    "Slovenija je lepa dežela, tudi pozimi, veliko prijaznih ljudi",
    "Hrvatska povijest je zanimljiva, što se tako dogodilo, bojama",
    "Magyarország egy szép ország, ahol sok ember áll",
    "Aceasta este o țară frumoasă, oameni înțelegători, lucruri",
    "Türkiye çok güzel bir ülke, insanlar yorum yapıyor",
    "Người Việt Nam thường ăn cơm, cũng như mọi người",
    "Orang Indonesia makan nasi, mereka menyukai banyak makanan",
    "Aquest text català parla amb els seus amics, què tal",
    "Lietuvos vyrai buvo namuose, jie ėjo namo, yra gerai",
    "Latvija ir skaista valsts, arī cilvēki grāmatas lasa, vēlme",
    "Eesti keel on ilus, üks õpetaja ütles seda, aasta oli hea",
    "Gjuha shqipe është e bukur, për një njeri dhe uji",
    "Hierdie boek is baie groot, dit gee ons nie veel nie, wat oor aan kom",
    "Watu wanasema kwamba chakula ni kizuri, wanaweza kuamba mambo",
    "Það var öllum ljóst að hann gekk inn í bæinn, sem sagði maður",
    "Гэта беларуская мова і ў ёй тэкст",
    "Ова е македонски јазик, ќе одиме",
    "Бұл қазақ тілі мәтіні",
    "Энэ бол монгол хэл дээрх текст юм, өдөр",
    "Azərbaycan dili çox gözəl dildir, əsrlər boyu",
    "Il-belt għandha ħafna toroq sbieħ, żmien twil",
    "Mae mynyddoedd yn hardd iawn, roedd gwlad dda",
    "Tá an teanga Gaeilge go hálainn, bhfuil sé anseo",
    "Euskara hizkuntza ederra da, mendiak eta itsasoa",
    "A cidade galega ten unha praia fermosa, rúas e xente",
    "Ang mga bata ay naglalaro sa parke, ito ang kanilang lugar",
    "Waxaan rabaa inaan barto luuqadda soomaaliga, waa luuqad qurux badan",
    "Abantu abaningi bathanda ukudla okumnandi, izingane ziyajabula",
    "Mutanen suka zo wannan gari, ƙasar Hausa tana da kyau",
    "Àwọn ọmọ wọ́nyí fẹ́ràn láti kàwé, ẹni tí ó dára ni",
    "Ndị mmadụ chọrọ ka ụlọ ha dị mma, nke a bụ ezi okwu",
    "Ĉiuj homoj naskiĝas liberaj kaj egalaj, ĉi tiu lingvo estas bela kaj ĝoja",
    "Gallia est omnis divisa, quarum unam incolunt Belgae, altera pars erat",
    "An dud a gomz brezhoneg hag an avel a c'hwezh dre ar vro",
    "Ech si frou datt d'Sonn haut esou schéi schéngt, de Wee ass gutt",
    "Ny olona rehetra dia te-hahalala zavatra maro, fanahy tsara",
]


def q_language_id(spark, sf_dir):
    # r7: stacked-projection form — identical values to the old
    # detect_language Column, but shared subexpressions (tokenize,
    # trigram window) evaluate once per row instead of per branch
    from content_extractor_spark.operators.skew import spread
    from content_extractor_spark.operators.textstats import (
        with_detected_language,
    )

    docs = _t(spark, sf_dir, "documents").select("text")
    probes = spark.createDataFrame([(t,) for t in _LANG_PROBES], "text string")
    # spread (guide §2.5/§6): the sf documents table is one
    # single-row-group parquet file, so the whole per-row language
    # ladder ran on ONE core before the aggregate exchange; the widening
    # shuffle moves only (text) — trivial next to it. Spread the DOCS
    # side before the union: the probes df already carries empty
    # parallelism-many partitions that would fool a post-union check.
    corpus = spread(docs).unionByName(probes)
    return (
        with_detected_language(corpus)
        .select("lang_detected")
        .groupBy("lang_detected")
        .agg(F.count("*").alias("n"))
    )


def q_text_features(spark, sf_dir):
    """Map-only per-document text analysis in one driver row: token
    counting (whitespace + BPE-ish regex), C4/Gopher-style quality
    features + score, and the rolling document fingerprint — all
    computed in ONE codegen-fused projection (zero shuffles, zero
    joins; merging the former token_counts / quality_features /
    doc_fingerprint queries costs nothing at 100 TB because every
    column is independent map-side arithmetic).
    """
    from content_extractor_spark.operators.dedup_families import portable_hash
    from content_extractor_spark.operators.textstats import (
        line_features,
        quality_features,
        token_count_bpe,
        token_count_ws,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300).select(
        "doc_id", "text"
    )
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    fp = portable_hash(
        F.concat(
            F.substring(norm, 1, 64),
            F.lit("|"),
            F.length(norm).cast("string"),
        )
    )
    return (
        line_features(quality_features(docs))
        .withColumn("tokens_ws", token_count_ws("text").cast("int"))
        .withColumn("tokens_bpe", token_count_bpe("text").cast("int"))
        .withColumn("fingerprint", fp)
        .drop("text")
    )


def q_repetition_ngrams(spark, sf_dir):
    # Gopher-style within-document repetition: fraction of word-3-gram
    # characters in duplicated 3-grams + the top 3-gram's share
    from content_extractor_spark.operators.textstats import repetition_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return repetition_features(docs, n=3)


def q_top_terms(spark, sf_dir):
    """Corpus-level heavy hitters, both scorings, one driver row:
    raw-count top-5 tokens per language (two-phase count with map-side
    partial agg + window top-k) and TF-IDF top-5 per language (smooth
    idf over the same (doc,term) aggregate), unioned on an aligned
    (metric, lang, term, score, rank) shape.
    """
    from content_extractor_spark.operators.skew import spread
    from content_extractor_spark.operators.textstats import (
        tfidf_top_terms,
        top_terms,
    )

    docs = _t(spark, sf_dir, "documents")
    # spread only the full-corpus arm: its tokenize+explode+partial-agg
    # otherwise runs on the single parquet split (the 300-doc tfidf arm
    # is too small to pay a shuffle for)
    counts = top_terms(spread(docs), group_col="lang", k=5).select(
        F.lit("count").alias("metric"),
        "lang",
        F.col("token").alias("term"),
        F.col("n").cast("double").alias("score"),
        "rank",
    )
    tfidf = tfidf_top_terms(
        docs.where(F.col("doc_id") < 300), group_col="lang", k=5, round_to=5
    ).select(F.lit("tfidf").alias("metric"), "lang", "term", "score", "rank")
    return counts.unionByName(tfidf)


def q_unigram_logprob(spark, sf_dir):
    """Corpus-LM perplexity proxies, both orders, one driver row:
    per-doc mean UNIGRAM log-probability (kind='uni') and the
    Laplace-smoothed BIGRAM conditional log-probability (kind='bi'),
    each with its own CCNet-style head/middle/tail banding per
    language (deterministic ntile over the score). n_units is the
    scoring-unit count (tokens resp. bigrams).
    """
    from content_extractor_spark.operators.textstats import (
        bigram_logprob,
        perplexity_bands,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    uni = perplexity_bands(docs, bands=3, round_to=5).select(
        F.lit("uni").alias("kind"), "doc_id", "lang", "mean_logprob",
        F.col("n_tokens").alias("n_units"), "band", "band_name",
    )
    bi = perplexity_bands(
        docs, bands=3, round_to=5,
        scores=bigram_logprob(docs, round_to=5),
    ).select(
        F.lit("bi").alias("kind"), "doc_id", "lang", "mean_logprob",
        F.col("n_bigrams").alias("n_units"), "band", "band_name",
    )
    return uni.unionByName(bi)


def q_sample_and_split(spark, sf_dir):
    """Deterministic curation sampling, both operators, one driver row:
    md5-hash stratified sampling with a per-group cap (map-only + one
    window; no rand(), engines agree row-for-row) composed with the
    md5 train/val split — every sampled row carries its split label,
    so BOTH assignments are value-checked per row.
    """
    from content_extractor_spark.operators.curation import (
        stratified_sample,
        train_val_split,
    )

    docs = _t(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs, group_col="lang", permille=300, per_group_cap=15
    )
    return train_val_split(sampled, val_pct=5).select(
        "doc_id", "lang", "source", "split"
    )


def _linked_corpus(spark, sf_dir):
    """Documents with deterministic anchor links synthesized in SQL, so
    the DuckDB oracle can reproduce the extraction end to end."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="https://h'),
        ((d * 2 + 1) % 7).cast("string"),
        F.lit('.example/p1">x</a><a href="/rel/p">y</a>'
              '<a href="https://h'),
        ((d * 3 + 2) % 10).cast("string"),
        F.lit('.example/p2">z</a></body></html>'),
    )
    return docs.select(
        F.concat(F.lit("h"), (d % 7).cast("string"), F.lit(".example")).alias("host"),
        html.alias("html"),
    )


def q_link_graph(spark, sf_dir):
    """Link-graph extraction, both products, one driver row: distinct
    (src, dst) host edges AND per-destination anchor-text profiles
    (caption/query training pairs), both via pure-Catalyst regexp
    extraction over the same corpus, unioned on an aligned
    (kind, src, dst, anchor_text, n) shape. Edges carry NULL
    anchor_text/n; anchor rows carry NULL src (aggregated over
    sources).
    """
    from content_extractor_spark.operators.linkgraph import (
        extract_anchor_texts,
        extract_host_links,
    )

    from content_extractor_spark.operators.scans import sitemap_urls

    corpus = _linked_corpus(spark, sf_dir)
    # sentinels ('' / 0) instead of NULLs: an int column with NULLs
    # degrades to float64 in both engines' pandas bridges, which is a
    # needless dtype hazard in the driver's value-hash compare
    edges = extract_host_links(corpus).select(
        F.lit("edge").alias("kind"), "src", "dst",
        F.lit("").alias("anchor_text"),
        F.lit(0).cast("bigint").alias("n"),
    )
    anchors = (
        extract_anchor_texts(corpus)
        .groupBy("dst", "anchor_text")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("anchor").alias("kind"),
            F.lit("").alias("src"),
            "dst", "anchor_text", "n",
        )
    )
    # third product: sitemap-discovered urls (urlset + sitemapindex,
    # XML synthesized in SQL so the oracle reproduces the parse) —
    # kind='sitemap_*', src=host, dst=loc, anchor_text=lastmod
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".example"))
    xml = F.when(
        d % 10 == 0,
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://"), host,
            F.lit("/sm"), d.cast("string"),
            F.lit(".xml</loc></sitemap></sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<urlset><url><loc> https://'), host,
            F.lit("/s"), d.cast("string"),
            F.lit(" </loc><lastmod>2021-07-0"),
            (d % 9 + 1).cast("string"),
            F.lit("</lastmod></url><url><loc>https://"), host,
            F.lit("/q?a=1&amp;b="), d.cast("string"),
            F.lit("</loc></url></urlset>"),
        )
    )
    sm = sitemap_urls(
        docs.select(host.alias("host"), xml.alias("xml"))
    ).select(
        F.concat(F.lit("sitemap_"), F.col("kind")).alias("kind"),
        F.col("host").alias("src"),
        F.col("loc").alias("dst"),
        F.coalesce(F.col("lastmod"), F.lit("")).alias("anchor_text"),
        F.lit(0).cast("bigint").alias("n"),
    )
    # fourth product: WAT-sidecar links (r5) — the Common Crawl JSON
    # envelope is synthesized in SQL per doc, parsed by the REAL
    # from_json path (sources.warc.wat_links), and the oracle rebuilds
    # the parse OUTPUT arithmetically, pinning the envelope schema
    from content_extractor_spark.sources.warc import wat_links

    src_url = F.concat(
        F.lit("https://h"), (d % 5).cast("string"),
        F.lit(".example/p"), d.cast("string"),
    )
    payload = F.concat(
        F.lit('{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"'),
        src_url,
        F.lit('"},"Payload-Metadata":{"HTTP-Response-Metadata":'
              '{"HTML-Metadata":{"Head":{"Title":"T'),
        d.cast("string"),
        F.lit('"},"Links":[{"path":"A@/href","url":"https://h'),
        ((d * 2 + 1) % 5).cast("string"),
        F.lit('.example/w"},{"path":"A@/href","url":"/rel/x","text":"r'),
        d.cast("string"),
        F.lit('"}]}}}}}'),
    )
    wat_records = docs.select(
        F.lit("synth.wat").alias("warc_file"),
        F.concat(F.lit("wat-"), d.cast("string")).alias("record_id"),
        F.lit("metadata").alias("warc_type"),
        src_url.alias("url"),
        F.lit("2021-07-01T00:00:00Z").alias("warc_date"),
        F.lit(200).alias("http_status"),
        F.lit("application/json").alias("content_type"),
        F.encode(payload, "utf-8").alias("payload"),
        F.lit(None).cast("string").alias("error"),
    )
    wat = wat_links(wat_records).select(
        F.lit("wat_link").alias("kind"),
        F.col("src_url").alias("src"),
        F.col("link_url").alias("dst"),
        F.concat_ws("|", "title", "link_text").alias("anchor_text"),
        F.lit(0).cast("bigint").alias("n"),
    )
    # fifth product: RSS/Atom feed discovery (r5) — even docs get an
    # RSS item (CDATA title), odd docs an Atom entry; the real parser
    # runs, the oracle rebuilds its output arithmetically
    from content_extractor_spark.operators.scans import feed_urls

    fhost = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".example"))
    floc = F.concat(F.lit("https://"), fhost, F.lit("/r"), d.cast("string"))
    fdate = F.concat(F.lit("2021-07-0"), (d % 9 + 1).cast("string"))
    ftitle = F.concat(F.lit("F"), d.cast("string"))
    feed_xml = F.when(
        d % 2 == 0,
        F.concat(
            F.lit("<rss><channel><item><title><![CDATA["), ftitle,
            F.lit("]]></title><link>"), floc,
            F.lit("</link><pubDate>"), fdate,
            F.lit("</pubDate></item></channel></rss>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><entry>'
                  "<title>"), ftitle,
            F.lit('</title><link href="'), floc,
            F.lit('"/><updated>'), fdate,
            F.lit("</updated></entry></feed>"),
        )
    )
    fd = feed_urls(
        docs.select(fhost.alias("host"), feed_xml.alias("xml"))
    ).select(
        F.concat(F.lit("feed_"), F.col("kind")).alias("kind"),
        F.col("host").alias("src"),
        F.col("loc").alias("dst"),
        F.concat_ws("|", "published", "title").alias("anchor_text"),
        F.lit(0).cast("bigint").alias("n"),
    )
    # sixth product: CDXJ crawl-index parse + capture selection (r6) —
    # index lines are synthesized from doc_id arithmetic, parsed by the
    # REAL parser (sources.cdx.parse_cdx_lines: split + from_json), and
    # run through the REAL selection (status/mime filters + one capture
    # per digest, earliest ts / lowest urlkey); the oracle rebuilds the
    # surviving rows arithmetically with the same window
    from content_extractor_spark.sources.cdx import (
        cdx_select,
        parse_cdx_lines,
    )

    ckey = F.concat(
        F.lit("example,h"), (d % 5).cast("string"), F.lit(")/p"),
        d.cast("string"),
    )
    curl = F.concat(
        F.lit("https://h"), (d % 5).cast("string"), F.lit(".example/p"),
        d.cast("string"),
    )
    cstatus = F.when(d % 7 == 0, F.lit("404")).otherwise(F.lit("200"))
    cmime = F.when(
        d % 11 == 0, F.lit("application/pdf")
    ).otherwise(F.lit("text/html"))
    cline = F.concat(
        ckey, F.lit(" 20240101000000 "),
        F.lit('{"url": "'), curl,
        F.lit('", "mime": "'), cmime,
        F.lit('", "status": "'), cstatus,
        F.lit('", "digest": "sha1:'), (d % 67).cast("string"),
        F.lit('", "length": "100", "offset": "'), (d * 100).cast("string"),
        F.lit('", "filename": "f'), (d % 5).cast("string"),
        F.lit('.warc.gz"}'),
    )
    cdx = cdx_select(
        parse_cdx_lines(docs.select(cline.alias("value")))
    ).select(
        F.lit("cdx").alias("kind"),
        F.col("urlkey").alias("src"),
        F.col("url").alias("dst"),
        F.col("filename").alias("anchor_text"),
        F.col("offset").alias("n"),
    )
    return (
        edges.unionByName(anchors).unionByName(sm)
        .unionByName(wat).unionByName(fd).unionByName(cdx)
    )


def q_pagerank_hosts(spark, sf_dir):
    # 3 fixed PageRank iterations over the host graph (dangling mass
    # redistributed uniformly); host set is tiny after aggregation, so
    # per-iteration joins are broadcast-sized
    from content_extractor_spark.operators.linkgraph import (
        extract_host_links,
        pagerank_hosts,
    )

    edges = extract_host_links(_linked_corpus(spark, sf_dir))
    return pagerank_hosts(
        edges, iterations=3, damping=0.85, round_to=6, graph_partitions=2
    )


def q_robots_filter(spark, sf_dir):
    # group-aware robots.txt Disallow filtering (User-agent: * groups
    # only — a non-star group's rules must NOT apply): urls and robots
    # are synthesized deterministically; the oracle reproduces the
    # allowed set arithmetically, so the parser itself is under test
    from content_extractor_spark.operators.scans import robots_disallow_filter

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".example"))
    seg = F.element_at(
        F.array(F.lit("/a"), F.lit("/private"), F.lit("/tmp"), F.lit("/pub")),
        (d % 4 + 1).cast("int"),
    )
    urls = docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("https://"), host, seg, F.lit("/p"),
                 d.cast("string")).alias("url"),
    )
    robots = spark.createDataFrame(
        [
            ("h0.example",
             "User-agent: *\nDisallow: /private\nDisallow: /tmp"),
            ("h1.example",
             "User-agent: googlebot\nUser-agent: *\n"
             "Disallow: /private\nDisallow: /tmp\n\n"
             "User-agent: foo\nDisallow: /"),
            ("h2.example", "User-agent: foo\nDisallow: /"),
            # Allow precedence: the longer /a/p9 prefix re-allows paths
            # under the /a disallow (RFC 9309 longest-match)
            ("h3.example", "User-agent: *\nDisallow: /a\nAllow: /a/p1"),
            # RFC 9309 wildcards: '*' mid-rule (blocks /private via
            # /*riv), a longer Allow with trailing '*' re-allowing the
            # p1-prefixed paths, and a '$'-anchored rule that matches
            # NO path here (plain-prefix semantics would wrongly block
            # every /tmp/p3... url on this host)
            ("h4.example",
             "User-agent: *\nDisallow: /*riv\nAllow: /private/p1*\n"
             "Disallow: /tmp/p3$"),
        ],
        "host string, robots_txt string",
    )
    allowed = robots_disallow_filter(urls, robots).select(
        F.lit("robots").alias("gate"), "doc_id", "host", "url"
    )
    # blocklist arm (r6): subdomain-structured hosts against a blocked
    # domain list — SUFFIX semantics (s3.bad1.example blocked by
    # bad1.example; notbad9.example survives its substring cousin)
    from content_extractor_spark.operators.scans import (
        domain_blocklist_filter,
    )

    tld = F.when(d % 4 == 0, F.lit("bad")).otherwise(F.lit("ok"))
    dom = F.concat(tld, (d % 3).cast("string"), F.lit(".example"))
    host2 = F.when(d % 5 == 0, dom).otherwise(
        F.concat(F.lit("s"), (d % 7).cast("string"), F.lit("."), dom)
    )
    urls2 = docs.select(
        "doc_id",
        host2.alias("host"),
        F.concat(F.lit("https://"), host2, F.lit("/x"),
                 d.cast("string")).alias("url"),
    )
    blocked = spark.createDataFrame(
        [("bad0.example",), ("bad1.example",), ("bad2.example",),
         ("ad9.example",)],
        "domain string",
    )
    surv = domain_blocklist_filter(urls2, blocked).select(
        F.lit("blocklist").alias("gate"), "doc_id", "host", "url"
    )
    return allowed.unionByName(surv)


def q_weighted_source_sample(spark, sf_dir):
    # training-mix sampling: per-source keep rates from a broadcast
    # weights dim + deterministic md5 threshold (no rand())
    from content_extractor_spark.operators.curation import (
        weighted_source_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [("src0", 1000), ("src1", 500), ("src2", 100)],
        "source string, permille int",
    )
    return weighted_source_sample(docs, weights).select(
        "doc_id", "source", "lang"
    )


def q_chunk_documents(spark, sf_dir):
    # fixed-window token chunking (training/RAG segment prep): pure
    # array ops + one explode — map-only, zero shuffle
    from content_extractor_spark.operators.curation import chunk_documents

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return chunk_documents(docs, target_tokens=16)


def q_snapshot_diff(spark, sf_dir):
    # CDC between two corpus snapshots (added/removed/changed/unchanged
    # by content digest): one full outer join; the oracle reproduces the
    # expected change set arithmetically
    from content_extractor_spark.operators.curation import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") < 350).select("doc_id", "text")
    new = docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 400)).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return snapshot_diff(old, new)


def q_normalize_pii_scrub(spark, sf_dir):
    """Text-cleanup curation, both map-only operators, one driver row:
    canonical normalization (curly quotes, dashes, NBSP, controls,
    whitespace collapse) composed with PII scrubbing (emails -> IPs ->
    phone-ish runs, counts before each redaction) — the normalized
    text AND the scrubbed output are both value-checked byte-for-byte;
    dirt is synthesized in SQL so the oracle replays the exact chain.
    """
    from content_extractor_spark.operators.curation import (
        normalize_text,
        pii_scrub,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    # every 3rd doc carries a Luhn-VALID test PAN (redacted as <CC>);
    # every 3rd+1 an INVALID 16-digit run (falls through to <PHONE> \u2014
    # only checksum-valid numbers are the high-severity leak)
    card = (
        F.when(F.col("doc_id") % 3 == 0,
               F.lit(" card 4111 1111 1111 1111 ok"))
        .when(F.col("doc_id") % 3 == 1,
              F.lit(" card 4111 1111 1111 1112 no"))
        .otherwise(F.lit(""))
    )
    # IBAN forms cycle mod 4: compact valid -> <IBAN>; SPACED display
    # form valid (r6: ISO 13616 paper format, groups of 4) -> <IBAN>;
    # dashed INVALID (checksum fails, digit tail falls to the phone
    # scrubber); compact invalid
    iban = (
        F.when(F.col("doc_id") % 4 == 0,
               F.lit(" iban DE89370400440532013000 here"))
        .when(F.col("doc_id") % 4 == 1,
              F.lit(" iban DE89 3704 0044 0532 0130 00 here"))
        .when(F.col("doc_id") % 4 == 2,
              F.lit(" iban DE89-3704-0044-0532-0130-01 here"))
        .otherwise(F.lit(" iban DE89370400440532013001 here"))
    )
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.lit("\u201cQ\u201d \u2014 "), F.col("text"),
            F.lit(" contact bob"), F.col("doc_id").cast("string"),
            F.lit("@mail.example or +49 30 55512"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" ip 10.0.0."), (F.col("doc_id") % 255).cast("string"),
            card,
            iban,
            F.lit("  \u2018x\u2019\u00a0y\t"),
        ).alias("text"),
    )
    out = pii_scrub(normalize_text(dirty), text_col="text_norm")
    return out.select(
        "doc_id", "text_norm", "n_emails", "n_ibans", "n_ips",
        "n_cards", "n_phones", "scrubbed"
    )


# PQ driver-row parameters (shared with the generated oracle SQL)
_PQ_M, _PQ_K, _PQ_DIM = 4, 4, 64


def _pq_query_vector():
    """Deterministic synthetic query vector: q[i] = ((i*7) % 13) / 13
    (0-based dim) — trivially reproducible in SQL."""
    return [((i * 7) % 13) / 13.0 for i in range(_PQ_DIM)]


def q_kmeans_assign(spark, sf_dir):
    """Vector quantization, both quantizers, one driver row:
    kind='kmeans' — deterministic fixed-iteration Lloyd k-means (the
    IVF coarse quantizer): init = vectors of the 4 smallest ids, one
    update iteration, rounded centroids/distances, argmin ties to the
    lowest cluster; kind='pq' — product quantization over the same
    vectors (m=4 subspaces x k=4 codes trained by the same k-means in
    each subspace): `cluster` carries the packed code word
    (sum code_s * k^s) and `dist` the ADC distance to a deterministic
    synthetic query. The oracle replays ALL of the arithmetic,
    including the per-subspace codebook training.
    """
    from content_extractor_spark.operators.similarity import (
        kmeans_assign,
        pq_adc_distances,
        pq_encode,
        train_ivf_pq,
    )

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    # r7: BOTH quantizers init from the vectors of the k smallest ids —
    # collect them once and hand them to each trainer (was two
    # identical orderBy/limit/collect jobs). Python float() of the
    # stored float32 is the same widening as Spark's cast to double,
    # so the training arithmetic is bit-identical.
    init = [
        list(r["embedding"])
        for r in emb.orderBy("vec_id").limit(4).select("embedding").collect()
    ]
    # r7 late: ONE fused Lloyd job trains the coarse quantizer and all
    # m codebooks together (s=0 full vector, s=1..m subspaces, one
    # groupBy(s, cluster) AVG) — cents and books are value-identical
    # to the two separate trainers (differential-pytest pinned), one
    # driver job and one cached projection fewer.
    cents, books = train_ivf_pq(
        emb, dim=_PQ_DIM, m=_PQ_M, k=_PQ_K, iterations=1, round_to=6,
        init_vectors=init,
    )
    km = kmeans_assign(
        emb, dim=64, k=4, round_to=6, centroids=cents
    ).select(
        F.lit("kmeans").alias("kind"), "vec_id",
        "cluster", "dist",
    )
    codes = pq_encode(emb, books, round_to=6)
    packed = None
    for s in range(_PQ_M):
        term = F.col("codes")[s] * F.lit(_PQ_K ** s)
        packed = term if packed is None else packed + term
    adc = pq_adc_distances(
        codes, books, _pq_query_vector(), round_to=6, keep=("codes",)
    )
    pq = adc.select(
        F.lit("pq").alias("kind"), "vec_id",
        packed.cast("int").alias("cluster"),
        F.col("adc_dist").alias("dist"),
    )
    return km.unionByName(pq)


def q_windowed_agg(spark, sf_dir):
    """Event-time windowing, both shapes, one driver row — F.window in
    batch mode, the same operator Structured Streaming uses
    (epoch-aligned starts): a tumbling 1h window grouped by event_type
    and a sliding 1h/30m window (every event lands in two slots;
    Spark explodes window slots before the partial aggregate), unioned
    on an aligned (win_kind, w_start, event_type, n, sum_value) shape.
    """
    ev = _t(spark, sf_dir, "events")
    sum_value = (
        F.round(F.sum(F.col("value").cast("decimal(24,6)")), 3)
        .cast("double").alias("sum_value")
    )
    tumbling = (
        ev.where(F.col("user_id") < 500)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), sum_value)
        .select(
            F.lit("tumbling").alias("win_kind"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type", "n", "sum_value",
        )
    )
    sliding = (
        ev.where(F.col("user_id") < 300)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), sum_value)
        .select(
            F.lit("sliding").alias("win_kind"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            F.lit("(all)").alias("event_type"), "n", "sum_value",
        )
    )
    return tumbling.unionByName(sliding)


def q_sessionize_events(spark, sf_dir):
    # gap-based sessionization (30-min inactivity) over the events table
    from content_extractor_spark.operators.sessionize import session_stats

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 300)
    s = session_stats(ev, gap_minutes=30)
    return s.select(
        "user_id", "session_idx", "n_events",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("start_s"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("end_s"),
    )


def q_audio_duration(spark, sf_dir):
    # REAL audio container decode: a PCM WAV (8 kHz mono 16-bit) is
    # assembled per row in SQL with a doc_id-derived payload size, the
    # mapInPandas decoder walks the RIFF chunks, and the oracle
    # reconstructs channels/rate/duration from the same arithmetic
    from content_extractor_spark.operators.multimodal import extract_audio_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)

    def le4(col):  # little-endian 4-byte hex of an int column
        h = lambda c: F.lpad(F.hex(c), 2, "0")  # noqa: E731
        return F.concat(
            h(col.bitwiseAND(F.lit(255))),
            h(F.shiftright(col, 8).bitwiseAND(F.lit(255))),
            h(F.shiftright(col, 16).bitwiseAND(F.lit(255))),
            h(F.shiftright(col, 24).bitwiseAND(F.lit(255))),
        )

    n = ((F.col("doc_id") % 50) + 1) * 320  # data bytes; /16 -> ms
    wav_hex = F.concat(
        F.lit("52494646"), le4(n + 36), F.lit("57415645"),           # RIFF size WAVE
        F.lit("666D74201000000001000100401F0000803E000002001000"),   # fmt: PCM mono 8kHz
        F.lit("64617461"), le4(n),                                   # data chunk
        F.expr("repeat('00', _n)"),
    )
    media = docs.withColumn("_n", n.cast("int")).select(
        F.concat(F.lit("wav-"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.unhex(wav_hex).alias("payload"),
    )
    feats = extract_audio_features(media)
    return feats.select(
        "media_ref", "fmt", "channels", "sample_rate", "duration_ms", "n_bytes"
    )


def q_length_band_filter(spark, sf_dir):
    # per-language outlier cut: drop the shortest 5% / longest 5% by
    # exact rank fraction (deterministic, no approximate percentiles)
    from content_extractor_spark.operators.textstats import length_band_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return length_band_filter(docs, group_col="lang")


def q_decontaminate(spark, sf_dir):
    # eval-set decontamination: flag docs sharing any 8-gram with the
    # benchmark (here: every 7th document) — broadcast semi join
    from content_extractor_spark.operators.curation import decontaminate
    from content_extractor_spark.operators.skew import spread

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    # spread: the benchmark-side shingle explode scans the whole
    # corpus from the single parquet split otherwise
    bench = spread(
        _t(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    )
    return decontaminate(docs, bench, n=8)


def q_pack_sequences(spark, sf_dir):
    # contiguous sequence packing within each source shard (global
    # packing would be a single-reducer antipattern at 10^12 docs)
    from content_extractor_spark.operators.curation import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=512, shard_col="source")


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_cosine_topk(spark, sf_dir):
    from content_extractor_spark.operators.similarity import cosine_topk
    from content_extractor_spark.operators.skew import spread

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    # spread: the per-pair dot products stream the corpus side of the
    # broadcast nested-loop join — single parquet split = one core
    corpus = spread(emb.where(F.col("vec_id") >= 5))
    # corpus_rows: the testdata embeddings table is known-bounded, so
    # skip the guard's limit().count() probe job (still bound-checked)
    return cosine_topk(queries, corpus, k=5, round_to=3,
                       corpus_rows=500_000)


def q_lsh_ann_topk(spark, sf_dir):
    """LSH-bucketed ANN top-k, single-bucket AND multi-probe, one
    driver row: probes=0 searches only the query's own hyperplane
    bucket; probes=4 additionally searches every bucket at Hamming
    distance 1 (bucket XOR one bit) — recall widens with query-side
    fan-out only, the corpus keeps one bucket per vector. Both runs
    are unioned with a `probes` discriminator column; since the
    probes=0 candidate set is a subset of the probes=4 one, both
    levels are ranked off a single candidate frame (one join, one
    sort — see lsh_topk_probe_levels).
    """
    from content_extractor_spark.operators.similarity import lsh_topk_probe_levels

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    return lsh_topk_probe_levels(
        queries, corpus, dim=64, k=5, nbits=4, round_to=3, probes=4
    )


def q_embedding_neardup(spark, sf_dir):
    from content_extractor_spark.operators.similarity import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label")
    )
    # max_bucket exercises the per-bucket window cap (the r2 scale-
    # killer fix): dense buckets are truncated to the first 24 ids
    # before the self-join; the oracle replicates the cap exactly
    return embedding_near_duplicates(
        doubled, dim=64, threshold=0.999, nbits=4, round_to=3,
        max_bucket=24,
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # 49 entries — consolidated from r3's 65 so EVERY registered query
    # fits the driver's 50-row correctness window (r3 verdict item #1):
    # same-schema operator variants are unioned with a discriminator
    # column (pixel formats, window kinds, ANN probe levels, link-graph
    # products, heavy-hitter metrics, scan/join probes) and map-only
    # per-doc features are computed in one fused projection. The
    # previously-unchecked entries (r3 registry slots 51-65, incl.
    # sessionize_events) are ordered directly after the flagship.
    return {
        "extract_spans": q_extract_spans,
        "windowed_agg": q_windowed_agg,
        "sessionize_events": q_sessionize_events,
        "snapshot_diff": q_snapshot_diff,
        "chunk_documents": q_chunk_documents,
        "weighted_source_sample": q_weighted_source_sample,
        "audio_duration": q_audio_duration,
        "normalize_pii_scrub": q_normalize_pii_scrub,
        "decontaminate": q_decontaminate,
        "pack_sequences": q_pack_sequences,
        "sample_and_split": q_sample_and_split,
        "cosine_topk": q_cosine_topk,
        "lsh_ann_topk": q_lsh_ann_topk,
        "embedding_neardup": q_embedding_neardup,
        "scan_filters": q_scan_filters,
        "dup_probe_joins": q_dup_probe_joins,
        "broadcast_dim_join": q_broadcast_dim_join,
        "first_entry_per_key": q_first_entry_per_key,
        "exact_dedup_keep": q_exact_dedup_keep,
        "window_dedup_rank": q_window_dedup_rank,
        "create_update_skip": q_create_update_skip,
        "tag_dim_upsert": q_tag_dim_upsert,
        "salted_host_agg": q_salted_host_agg,
        "media_features": q_media_features,
        "pixel_stats_all": q_pixel_stats_all,
        "media_manifest": q_media_manifest,
        "pdf_text_roundtrip": q_pdf_text_roundtrip,
        "density_extract": q_density_extract,
        "paragraph_dedup": q_paragraph_dedup,
        "clean_urls": q_clean_urls,
        "two_phase_union": q_two_phase_union,
        "ci_distinct_tags": q_ci_distinct_tags,
        "pricing_summary": q_pricing_summary,
        "top_revenue_orders": q_top_revenue_orders,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_groups": q_simhash_groups,
        "simhash_hamming_pairs": q_simhash_hamming_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "dedup_clusters": q_dedup_clusters,
        "language_id": q_language_id,
        "text_features": q_text_features,
        "repetition_ngrams": q_repetition_ngrams,
        "length_band_filter": q_length_band_filter,
        "top_terms": q_top_terms,
        "unigram_logprob": q_unigram_logprob,
        "link_graph": q_link_graph,
        "pagerank_hosts": q_pagerank_hosts,
        "kmeans_assign": q_kmeans_assign,
        "robots_filter": q_robots_filter,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles (same column names; same portable hashes)
# ---------------------------------------------------------------------------

_SHINGLES3 = (
    r"list_distinct([array_to_string(toks[i:i+2], ' ') "
    r"for i in range(1, greatest(len(toks)-2, 0)+1)])"
)

# same 3-gram enumeration WITH duplicates (repetition statistics)
_SHINGLES3_ALL = (
    r"[array_to_string(toks[i:i+2], ' ') "
    r"for i in range(1, greatest(len(toks)-2, 0)+1)]"
)


# -- language-ID snippets, generated from the SAME marker table the Spark
#    operator uses so oracle and operator cannot drift ----------------------

def _lang_hits_select_sql() -> str:
    """One presence-count column per language (h_en, h_de, ...)."""
    from content_extractor_spark.operators.textstats import LANG_MARKERS

    cols = []
    for lang, words in LANG_MARKERS.items():
        s = " + ".join(f"list_contains(toks,'{w}')::int" for w in words)
        cols.append(f"({s}) AS h_{lang}")
    return ",\n                ".join(cols)


def _lang_id_case_sql(else_sql: str = "'und'") -> str:
    """Mirror of detect_language's argmax-earliest-tie-break: checked
    last-to-first, a language wins iff it has STRICTLY more hits than
    every earlier language (so equal maxima fall through to the
    earliest one). ``else_sql`` is the zero-hits fallback — the
    trigram tier in the full ladder."""
    from content_extractor_spark.operators.textstats import LANG_MARKERS

    langs = list(LANG_MARKERS)
    clauses = []
    for i in range(len(langs) - 1, 0, -1):
        earlier = ", ".join(f"h_{l}" for l in langs[:i])
        clauses.append(f"WHEN h_{langs[i]} > greatest({earlier}, 0) THEN '{langs[i]}'")
    clauses.append(f"WHEN h_{langs[0]} > 0 THEN '{langs[0]}'")
    return (
        "CASE\n                "
        + "\n                ".join(clauses)
        + f"\n                ELSE {else_sql} END"
    )


def _script_case_sql() -> str:
    """Script-decisive tier generated from the SAME SCRIPT_LADDER the
    Spark operator walks (literal char-class patterns are valid in
    both Java regex and RE2, so one table feeds both engines)."""
    from content_extractor_spark.operators.textstats import SCRIPT_LADDER

    whens = [
        f"WHEN regexp_matches(text, '{pat}') THEN '{lang}'"
        for lang, pat in SCRIPT_LADDER
    ]
    return (
        "CASE\n                "
        + "\n                ".join(whens)
        + "\n                ELSE 'und' END"
    )


def _trigram_hits_select_sql() -> str:
    """One char-3-gram presence-count column per tier-2 language
    (t_fi, t_no, ...) over the lowered TRIGRAM_WINDOW prefix ``w`` —
    generated from the same LANG_TRIGRAMS profile table the operator
    scores with."""
    from content_extractor_spark.operators.textstats import LANG_TRIGRAMS

    cols = []
    for lang, grams in LANG_TRIGRAMS.items():
        s = " + ".join(
            "contains(w, '{}')::int".format(g.replace("'", "''"))
            for g in grams
        )
        cols.append(f"({s}) AS t_{lang}")
    return ",\n                ".join(cols)


def _trigram_case_sql() -> str:
    """Tier-2 argmax-earliest-tie with the MIN_HITS threshold: checked
    last-to-first, a language wins iff it clears the threshold AND has
    strictly more hits than every earlier language."""
    from content_extractor_spark.operators.textstats import (
        LANG_TRIGRAMS,
        TRIGRAM_MIN_HITS,
    )

    langs = list(LANG_TRIGRAMS)
    clauses = []
    for i in range(len(langs) - 1, 0, -1):
        earlier = ", ".join(f"t_{l}" for l in langs[:i])
        clauses.append(
            f"WHEN t_{langs[i]} >= {TRIGRAM_MIN_HITS} AND "
            f"t_{langs[i]} > greatest({earlier}) THEN '{langs[i]}'"
        )
    clauses.append(
        f"WHEN t_{langs[0]} >= {TRIGRAM_MIN_HITS} THEN '{langs[0]}'"
    )
    return (
        "CASE\n                "
        + "\n                ".join(clauses)
        + "\n                ELSE 'und' END"
    )


def _stop_hits_sum_sql() -> str:
    """Sum of per-language marker presence counts (q_stopword_hits)."""
    from content_extractor_spark.operators.textstats import LANG_MARKERS

    terms = [
        f"list_contains(toks,'{w}')::int"
        for words in LANG_MARKERS.values()
        for w in words
    ]
    return "(" + "\n                      + ".join(terms) + ")"


def _luhn_filter_sql(list_expr: str) -> str:
    """DuckDB mirror of curation._luhn_valid applied as a list_filter
    over candidate card numbers (generated so the checksum arithmetic
    is written once)."""
    dig = "reverse(regexp_replace(c,'[^0-9]','','g'))"
    d = f"substr({dig}, i, 1)::int"
    term = (
        f"CASE WHEN i % 2 = 0 THEN CASE WHEN 2*{d} > 9 THEN 2*{d} - 9 "
        f"ELSE 2*{d} END ELSE {d} END"
    )
    return (
        f"list_filter({list_expr}, c -> list_sum([{term} for i in "
        "range(1, len(regexp_replace(c,'[^0-9]','','g'))+1)]) % 10 = 0)"
    )


def _iban_filter_sql(list_expr: str) -> str:
    """DuckDB mirror of curation's IBAN validation: normalize the
    candidate (strip the display-form space/dash separators), guard
    the total length, rearrange, map chars to packed (value,
    multiplier) ints, fold mod 97 — valid iff 1."""
    norm = "regexp_replace(c, '[ -]', '', 'g')"
    rearr = f"substr({norm},5)||substr({norm},1,4)"
    a = f"ascii(substr({rearr}, i, 1))"
    packed = (
        f"CASE WHEN {a} >= 65 THEN ({a} - 55) * 1000 + 100 "
        f"ELSE ({a} - 48) * 1000 + 10 END"
    )
    return (
        f"list_filter({list_expr}, c -> len({norm}) >= 15 "
        f"AND len({norm}) <= 34 "
        f"AND list_reduce(list_prepend(0, "
        f"[{packed} for i in range(1, len({norm})+1)]), "
        "(acc, x) -> (acc * (x % 1000) + x // 1000) % 97) = 1)"
    )


def _pq_oracle_sql() -> str:
    """Generated CTE chain replaying product quantization end to end:
    per subspace, the SAME one-iteration k-means the kmeans oracle
    replays (init = subvectors of the 4 smallest ids), then nearest-
    centroid encoding and the ADC distance to the synthetic query —
    all from first principles, so the oracle checks codebook training,
    encoding AND search arithmetic."""
    sub = _PQ_DIM // _PQ_M
    q = _pq_query_vector()
    parts = []
    for s in range(_PQ_M):
        lo = s * sub + 1
        rng = f"range(1, {sub + 1})"
        qlist = "[" + ", ".join(repr(x) for x in q[s * sub:(s + 1) * sub]) + "]"
        parts.append(f"""
            sv{s} AS (
              SELECT vec_id, v[{lo}:{lo + sub - 1}] AS v FROM vecs
            ),
            sc0_{s} AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v
              FROM (SELECT vec_id, v FROM sv{s} ORDER BY vec_id
                    LIMIT {_PQ_K})
            ),
            sa1_{s} AS (
              SELECT vec_id, v, cluster FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dist ASC,
                                                      cluster ASC) AS rn
                FROM (
                  SELECT sv{s}.vec_id, sv{s}.v, c.cluster,
                         round(list_sum([
                           (sv{s}.v[i] - c.v[i]) * (sv{s}.v[i] - c.v[i])
                           for i in {rng}]), 6) AS dist
                  FROM sv{s}, sc0_{s} c
                )
              ) WHERE rn = 1
            ),
            sd_{s} AS (
              SELECT a.cluster, d.i, round(avg(a.v[d.i]), 6) AS cv
              FROM sa1_{s} a, (SELECT unnest({rng}) AS i) d
              GROUP BY a.cluster, d.i
            ),
            sc1_{s} AS (
              -- empty clusters keep their INIT centroid (engine:
              -- got.get(j, books[s][j])) — averages exist only for
              -- clusters that received members, so left-join+coalesce
              SELECT c0.cluster, coalesce(m.v, c0.v) AS v
              FROM sc0_{s} c0 LEFT JOIN (
                SELECT cluster, list(cv ORDER BY i) AS v FROM sd_{s}
                GROUP BY cluster
              ) m USING (cluster)
            ),
            scode_{s} AS (
              SELECT vec_id, cluster AS code FROM (
                SELECT sv.vec_id, c.cluster,
                       row_number() OVER (
                         PARTITION BY sv.vec_id
                         ORDER BY round(list_sum([
                             (sv.v[i] - c.v[i]) * (sv.v[i] - c.v[i])
                             for i in {rng}]), 6) ASC,
                           c.cluster ASC) AS rn
                FROM sv{s} sv, sc1_{s} c
              ) WHERE rn = 1
            ),
            stab_{s} AS (
              SELECT c.cluster,
                     round(list_sum([
                       (q.qs[i] - c.v[i]) * (q.qs[i] - c.v[i])
                       for i in {rng}]), 6) AS td
              FROM sc1_{s} c, (SELECT {qlist} AS qs) q
            )""")
    packed = " + ".join(
        f"c{s}.code * {_PQ_K ** s}" for s in range(_PQ_M)
    )
    adc = " + ".join(f"t{s}.td" for s in range(_PQ_M))
    joins = "\n              ".join(
        f"JOIN scode_{s} c{s} USING (vec_id)" for s in range(_PQ_M)
    ) + "\n              " + "\n              ".join(
        f"JOIN stab_{s} t{s} ON t{s}.cluster = c{s}.code"
        for s in range(_PQ_M)
    )
    return ",".join(parts) + f""",
            pq AS (
              SELECT v.vec_id,
                     ({packed})::INT AS cluster,
                     round({adc}, 6) AS dist
              FROM vecs v
              {joins}
            )"""


def oracle_sql() -> dict[str, str]:
    from content_extractor_spark.operators.textstats import (
        NONLATIN_ANY_RE as _NONLATIN_ANY_RE,
    )
    from content_extractor_spark.operators.textstats import (
        SCRIPT_MIN_CHARS as _SCRIPT_MIN_CHARS,
    )
    from content_extractor_spark.operators.textstats import (
        TRIGRAM_WINDOW as _TRIGRAM_WINDOW,
    )

    ph_text = _PH.format(x="{x}")
    return {
        # flagship: the corpus page is synthesized in SQL by
        # _docs_as_span_corpus, so the extractor's output is fully
        # reconstructible — title from the <h1>, summary = jsoup text()
        # of the 80-char <p class=lead> (trimmed), content = lead text
        # + the 'x' of the <time> element + ' ' at the <p> block
        # boundary + full body text (nav + ad-slot excluded by the
        # profile), date via the yyyy-MM-dd'T'HH:mm:ssX -> ISO reformat,
        # n_spans = title+summary+content+date+2 tags = 6
        "extract_spans": """
            SELECT 'doc-' || doc_id::varchar AS doc_id,
                   'ok' AS status,
                   'article' AS profile_name,
                   'Doc ' || doc_id::varchar || ' [' || lang || '/' || source
                       || ']' AS title,
                   trim(substr(text, 1, 80)) AS summary,
                   '2021-07-0' || (doc_id % 9 + 1)::varchar
                       || 'T12:00:00Z' AS date,
                   lang || '|' || source AS tags_s,
                   substr(text, 1, 80) || 'x ' || text AS content,
                   6 AS n_spans
            FROM documents
        """,
        # density fallback on the same synthesized page: the heuristics
        # drop <nav>/<header> chrome but keep the in-content ad div, so
        # content = lead(<=80) + 'x ' + text + ' AD'
        "density_extract": """
            SELECT 'doc-' || doc_id::varchar AS doc_id,
                   'ok_density' AS status,
                   '__density__' AS profile_name,
                   'Doc ' || doc_id::varchar || ' [' || lang || '/' || source
                       || ']' AS title,
                   length(substr(text, 1, 80) || 'x ' || text || ' AD')
                       ::int AS content_chars
            FROM documents WHERE doc_id < 100
        """,
        "scan_filters": """
            SELECT 'exclusions' AS probe, lang AS key, count(*) AS n,
                   sum(n_chars)::BIGINT::DOUBLE AS agg_val
            FROM documents
            WHERE lower(text) NOT LIKE '%slow%'
              AND lower(text) NOT LIKE '%error%'
              AND lower(text) NOT LIKE '%null%'
            GROUP BY lang
            UNION ALL
            SELECT 'time_range' AS probe, event_type AS key, count(*) AS n,
                   round(sum(value::DECIMAL(24,6)), 3)::DOUBLE AS agg_val
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
              AND ts <  TIMESTAMP '2024-01-05 00:00:00'
            GROUP BY event_type
        """,
        "broadcast_dim_join": """
            SELECT r_name AS region, count(*) AS customers,
                   round(sum(c_acctbal::DECIMAL(24,6)), 2)::DOUBLE AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "first_entry_per_key": """
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events WHERE user_id < 200
            ) WHERE rn = 1
        """,
        "exact_dedup_keep": """
            SELECT md5(text) AS digest, min(doc_id) AS keep_id,
                   count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "window_dedup_rank": """
            SELECT lang, count(*) AS kept FROM (
              SELECT lang, row_number() OVER (PARTITION BY md5(text)
                                              ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn = 1 GROUP BY lang
        """,
        "create_update_skip": """
            WITH new AS (SELECT doc_id, lang, source FROM documents),
            existing AS (
              SELECT doc_id AS e_id,
                     CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS e_lang,
                     source AS e_source
              FROM documents WHERE doc_id % 3 != 2
            )
            SELECT action, count(*) AS n FROM (
              SELECT CASE
                       WHEN e_id IS NULL THEN 'create'
                       WHEN NOT (new.lang IS NOT DISTINCT FROM e_lang
                                 AND new.source IS NOT DISTINCT FROM e_source)
                         THEN 'update'
                       ELSE 'skip' END AS action
              FROM new LEFT JOIN existing ON new.doc_id = e_id
            ) GROUP BY action
        """,
        "tag_dim_upsert": f"""
            WITH scraped AS (
              SELECT lower(tag) AS tag_key, min(tag) AS name FROM (
                SELECT unnest([lang, source]) AS tag FROM documents
              ) GROUP BY lower(tag)
            ),
            dim AS (SELECT DISTINCT lower(n_name) AS tag_key FROM nation)
            SELECT s.tag_key, s.name,
                   'tag-' || {_PH.format(x='s.tag_key')}::varchar AS tag_id
            FROM scraped s LEFT JOIN dim d ON s.tag_key = d.tag_key
            WHERE d.tag_key IS NULL
        """,
        "dup_probe_joins": """
            WITH snapshot AS (
              SELECT doc_id AS s_id, md5(text) AS s_sig
              FROM documents WHERE doc_id % 2 = 0
            )
            SELECT 'etag_anti' AS probe, lang, count(*) AS n
            FROM documents d
            WHERE NOT EXISTS (
              SELECT 1 FROM snapshot s
              WHERE d.doc_id = s.s_id AND md5(d.text) = s.s_sig
            )
            GROUP BY lang
            UNION ALL
            SELECT 'dup_semi' AS probe, lang, count(*) AS n
            FROM documents d
            WHERE EXISTS (
              SELECT 1 FROM documents s
              WHERE s.doc_id % 2 = 0 AND md5(s.text) = md5(d.text)
            )
            GROUP BY lang
        """,
        "salted_host_agg": """
            SELECT source, count(*) AS n, sum(n_chars)::BIGINT AS sum_chars,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM documents GROUP BY source
        """,
        "media_features": """
            SELECT 'asset-' || doc_id::varchar AS media_ref,
                   'unknown' AS fmt, -1 AS width, -1 AS height,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   sha256(text) AS sha256
            FROM documents WHERE doc_id < 200
            UNION ALL
            SELECT 'img-' || doc_id::varchar AS media_ref,
                   'png' AS fmt,
                   (doc_id % 640 + 1)::int AS width,
                   (doc_id % 480 + 1)::int AS height,
                   33::BIGINT AS n_bytes,
                   '' AS sha256
            FROM documents WHERE doc_id < 200
        """,
        "media_manifest": """
            SELECT d.doc_id,
                   (2*g.i + 1)::int AS offset,
                   'm-' || d.doc_id::varchar || '-' || g.i::varchar AS media_ref,
                   (g.i + 1)::int AS texts_before
            FROM documents d,
                 LATERAL (SELECT unnest(range(0, d.doc_id % 4 + 1)) AS i) g
            WHERE d.doc_id < 300
        """,
        "pixel_stats_all": """
            -- r6: all five formats now take the real gray-raster path
            -- (gif deinterlaced LZW, jpeg full IDCT), so every solid
            -- payload hashes to the solid-image constants: aHash
            -- all-ones (-1 as int64), dHash 0 — no -2 sentinel left
            SELECT *,
                   (-1)::BIGINT AS ahash,
                   (0)::BIGINT AS dhash
            FROM (
            WITH jbase AS (
              SELECT doc_id,
                     (doc_id * 3 % 256)::DOUBLE AS r,
                     (doc_id * 5 % 256)::DOUBLE AS g,
                     (doc_id * 7 % 256)::DOUBLE AS b
              FROM documents WHERE doc_id < 200
            ),
            ycc AS (
              SELECT doc_id,
                greatest(0, least(255,
                  floor(0.299*r + 0.587*g + 0.114*b + 0.5))) AS y,
                greatest(0, least(255,
                  floor(128 - 0.168736*r - 0.331264*g + 0.5 + 0.5*b))) AS cb,
                greatest(0, least(255,
                  floor(128 + 0.5*r - 0.418688*g - 0.081312*b + 0.5))) AS cr
              FROM jbase
            )
            SELECT 'pix-' || doc_id::varchar AS media_ref,
                   'ppm' AS fmt,
                   (doc_id % 16 + 1)::int AS width,
                   (doc_id % 8 + 1)::int AS height,
                   3 AS channels,
                   (doc_id % 256)::double AS mean_r,
                   (doc_id * 2 % 256)::double AS mean_g,
                   (doc_id * 3 % 256)::double AS mean_b,
                   'ok' AS status
            FROM documents WHERE doc_id < 200
            UNION ALL
            SELECT 'png-' || doc_id::varchar AS media_ref,
                   'png' AS fmt,
                   (doc_id % 16 + 1)::int AS width,
                   (doc_id % 8 + 5)::int AS height,
                   3 AS channels,
                   (doc_id % 256)::double AS mean_r,
                   (doc_id * 2 % 256)::double AS mean_g,
                   (doc_id * 3 % 256)::double AS mean_b,
                   'ok' AS status
            FROM documents WHERE doc_id < 200
            UNION ALL
            SELECT 'gif-' || doc_id::varchar AS media_ref,
                   'gif' AS fmt,
                   (doc_id % 12 + 1)::int AS width,
                   (doc_id % 9 + 1)::int AS height,
                   3 AS channels,
                   (doc_id * 5 % 256)::double AS mean_r,
                   (doc_id * 7 % 256)::double AS mean_g,
                   (doc_id * 11 % 256)::double AS mean_b,
                   'ok' AS status
            FROM documents WHERE doc_id < 200
            UNION ALL
            SELECT 'jpg-' || doc_id::varchar AS media_ref,
                   'jpeg' AS fmt,
                   (doc_id % 16 + 1)::int AS width,
                   (doc_id % 8 + 1)::int AS height,
                   3 AS channels,
                   greatest(0, least(255,
                     floor(y + 1.402*(cr - 128.0) + 0.5)))::DOUBLE AS mean_r,
                   greatest(0, least(255,
                     floor(y - 0.344136*(cb - 128.0)
                             - 0.714136*(cr - 128.0) + 0.5)))::DOUBLE AS mean_g,
                   greatest(0, least(255,
                     floor(y + 1.772*(cb - 128.0) + 0.5)))::DOUBLE AS mean_b,
                   'ok' AS status
            FROM ycc
            UNION ALL
            SELECT 'bmp-' || doc_id::varchar AS media_ref,
                   'bmp' AS fmt,
                   (doc_id % 10 + 1)::int AS width,
                   (doc_id % 6 + 1)::int AS height,
                   3 AS channels,
                   (doc_id * 13 % 256)::double AS mean_r,
                   (doc_id * 17 % 256)::double AS mean_g,
                   (doc_id * 19 % 256)::double AS mean_b,
                   'ok' AS status
            FROM documents WHERE doc_id < 200
            )
        """,
        "paragraph_dedup": r"""
            WITH tok AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents WHERE doc_id < 300
            ),
            paras AS (
              SELECT doc_id, i//12 AS idx,
                     array_to_string(toks[i+1:i+12], ' ') AS para
              FROM tok, LATERAL (
                SELECT unnest([x*12 for x in range(0, (len(toks)-1)//12 + 1)]) AS i
              )
              WHERE array_to_string(toks[i+1:i+12], ' ') != ''
            ),
            -- substring-dedup arm: 12-token sliding windows (stride 6)
            -- over a doubled corpus, spans occurring >= 2 times
            wtok AS (
              SELECT doc_id, toks FROM tok WHERE doc_id < 80
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, toks
              FROM tok WHERE doc_id < 80
            ),
            wspans AS (
              SELECT doc_id, s AS start,
                     md5(array_to_string(toks[s:s+11], ' ')) AS digest
              FROM wtok, LATERAL (
                SELECT unnest(range(1, greatest(len(toks)-12+2, 1), 6)) AS s
              )
              WHERE len(toks) >= 12
            ),
            wflag AS (
              SELECT digest, doc_id, start,
                     count(*) OVER (PARTITION BY digest) AS occ
              FROM wspans
            )
            SELECT 'paragraph' AS kind, md5(para) AS digest,
                   min(struct_pack(doc_id := doc_id, idx := idx)).doc_id AS keep_doc,
                   min(struct_pack(doc_id := doc_id, idx := idx)).idx AS keep_idx,
                   count(*) AS occurrences
            FROM paras GROUP BY md5(para)
            UNION ALL
            SELECT 'window' AS kind, digest,
                   min(struct_pack(doc_id := doc_id, start := start)).doc_id AS keep_doc,
                   min(struct_pack(doc_id := doc_id, start := start)).start AS keep_idx,
                   count(*) AS occurrences
            FROM wflag WHERE occ >= 2 GROUP BY digest
        """,
        "clean_urls": """
            SELECT doc_id,
                   'https://www.' || source || '.example/a/p' || doc_id::varchar
                   || '?q=' || doc_id::varchar AS clean_url
            FROM documents WHERE doc_id < 300
        """,
        "pdf_text_roundtrip": r"""
            WITH tok AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents WHERE doc_id < 100
            ),
            wrapped AS (
              SELECT doc_id,
                     array_to_string(
                       [array_to_string(toks[i:i+9], ' ')
                        for i in range(1, len(toks)+1, 10)],
                       chr(10)) AS body
              FROM tok
            )
            SELECT 'pdf' AS kind, doc_id, '' AS title, body FROM wrapped
            UNION ALL
            SELECT 'docx' AS kind, doc_id,
                   'T' || doc_id::varchar AS title, body
            FROM wrapped
        """,
        "two_phase_union": """
            SELECT mode, lang, count(*) AS n FROM (
              SELECT lang, 'new' AS mode FROM documents WHERE doc_id % 4 = 0
              UNION ALL
              SELECT lang, 'existing' AS mode FROM documents WHERE doc_id % 4 != 0
            ) GROUP BY mode, lang
        """,
        "ci_distinct_tags": """
            SELECT DISTINCT lower(tag) AS tag_key FROM (
              SELECT unnest([lang, source]) AS tag FROM documents
            )
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity::DECIMAL(24,6))::DOUBLE AS sum_qty,
                   round(sum(l_extendedprice::DECIMAL(24,6)), 2)::DOUBLE AS sum_base_price,
                   round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(24,6)), 2)::DOUBLE AS sum_disc_price,
                   round(sum(l_quantity::DECIMAL(24,6)) / count(*), 4)::DOUBLE AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_revenue_orders": """
            WITH rev AS (
              SELECT l_orderkey,
                     round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(24,6)), 2)::DOUBLE AS revenue
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT o_orderkey, c_name, revenue
            FROM orders
            JOIN rev ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "minhash_signatures": rf"""
            WITH tok AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents WHERE doc_id < 100
            ),
            sh AS (
              SELECT doc_id,
                     [ {_PH.format(x='s')} for s in {_SHINGLES3} ] AS hs
              FROM tok
            )
            SELECT doc_id, perm.j AS perm,
                   list_min([ ((2*perm.j+1)*h + perm.j*2654435769)
                              % 2305843009213693951 for h in hs ]) AS minhash
            FROM sh, (SELECT unnest(range(0, 8)) AS j) AS perm
        """,
        "minhash_lsh_pairs": rf"""
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 300
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id < 300
            ),
            tok AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM base
            ),
            sh AS (
              SELECT doc_id,
                     [ {_PH.format(x='s')} for s in {_SHINGLES3} ] AS hs
              FROM tok
            ),
            sig AS (
              SELECT doc_id,
                     [ list_min([ ((2*j+1)*h + j*2654435769)
                                  % 2305843009213693951 for h in hs ])
                       for j in range(0, 16) ] AS mh
              FROM sh
            ),
            banded AS (
              SELECT doc_id, b.band_idx,
                     {_PH.format(x="array_to_string([x::varchar for x in mh[b.band_idx*4+1 : b.band_idx*4+4]], ',')")} AS band_hash
              FROM sig, (SELECT unnest(range(0, 4)) AS band_idx) AS b
            )
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM banded x JOIN banded y
              ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
            WHERE x.doc_id < y.doc_id
        """,
        "dedup_clusters": rf"""
            WITH RECURSIVE base AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 150
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id < 150
            ),
            tok AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM base
            ),
            sh AS (
              SELECT doc_id,
                     [ {_PH.format(x='s')} for s in {_SHINGLES3} ] AS hs
              FROM tok
            ),
            sig AS (
              SELECT doc_id,
                     [ list_min([ ((2*j+1)*h + j*2654435769)
                                  % 2305843009213693951 for h in hs ])
                       for j in range(0, 16) ] AS mh
              FROM sh
            ),
            banded AS (
              SELECT doc_id, b.band_idx,
                     {_PH.format(x="array_to_string([x::varchar for x in mh[b.band_idx*4+1 : b.band_idx*4+4]], ',')")} AS band_hash
              FROM sig, (SELECT unnest(range(0, 4)) AS band_idx) AS b
            ),
            pairs AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM banded x JOIN banded y
                ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
              WHERE x.doc_id < y.doc_id
            ),
            und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
            reach(node, r) AS (
              SELECT a AS node, a AS r FROM und
              UNION
              SELECT u.a AS node, reach.r
              FROM und u JOIN reach ON u.b = reach.node
            )
            SELECT comp, count(*) AS members, min(node) AS keep FROM (
              SELECT node, min(r) AS comp FROM reach GROUP BY node
            ) GROUP BY comp
        """,
        "simhash_groups": rf"""
            WITH tok AS (
              SELECT doc_id,
                     [ {_PH.format(x='t')}
                       for t in string_split_regex(lower(trim(text)), '\s+') ] AS hs
              FROM documents WHERE doc_id < 500
            ),
            sigs AS (
              SELECT doc_id,
                     list_sum([ CASE WHEN list_sum(
                         [CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END
                          for h in hs]) > 0
                       THEN 1 << b ELSE 0 END for b in range(0, 16) ])::BIGINT AS sig
              FROM tok
            )
            SELECT sig, min(doc_id) AS keep_id, count(*) AS dup_count
            FROM sigs GROUP BY sig HAVING count(*) > 1
        """,
        "simhash_hamming_pairs": rf"""
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 200
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id < 200
            ),
            tok AS (
              SELECT doc_id,
                     [ {_PH.format(x='t')}
                       for t in string_split_regex(lower(trim(text)), '\s+') ] AS hs
              FROM base
            ),
            sigs AS (
              SELECT doc_id,
                     list_sum([ CASE WHEN list_sum(
                         [CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END
                          for h in hs]) > 0
                       THEN 1 << b ELSE 0 END for b in range(0, 16) ])::BIGINT AS sig
              FROM tok
            ),
            banded AS (
              SELECT doc_id, sig, j AS band_idx,
                     (sig >> (j*4)) & 15 AS band_val
              FROM sigs, (SELECT unnest(range(0, 4)) AS j)
            )
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                   bit_count(xor(x.sig, y.sig))::int AS hamming
            FROM banded x JOIN banded y
              ON x.band_idx = y.band_idx AND x.band_val = y.band_val
            WHERE x.doc_id < y.doc_id
              AND bit_count(xor(x.sig, y.sig)) <= 2
        """,
        "ngram_jaccard_pairs": rf"""
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 150
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id < 150
            ),
            tok AS (
              SELECT doc_id AS id,
                     string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM base
            ),
            sh AS (
              SELECT DISTINCT id, unnest({_SHINGLES3}) AS shingle
              FROM tok
            ),
            sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
            inter AS (
              SELECT x.id AS a, y.id AS b, count(*) AS inter
              FROM sh x JOIN sh y ON x.shingle = y.shingle
              WHERE x.id < y.id GROUP BY x.id, y.id
            )
            SELECT a, b,
                   round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = a
            JOIN sizes sb ON sb.id = b
            WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.8
        """,
        "language_id": rf"""
            WITH probes(text) AS (
              VALUES {", ".join(
                  "('{}')".format(t.replace("'", "''"))
                  for t in _LANG_PROBES
              )}
            ),
            corpus AS (
              SELECT text FROM documents
              UNION ALL SELECT text FROM probes
            ),
            tok AS (
              SELECT text, string_split_regex(lower(text), '\s+') AS toks,
                     lower(substr(text, 1, {_TRIGRAM_WINDOW})) AS w
              FROM corpus
            ),
            hits AS (
              SELECT text,
                {_lang_hits_select_sql()},
                {_trigram_hits_select_sql()}
              FROM tok
            ),
            lid AS (
              -- mirror of detect_language's three tiers: the non-Latin
              -- guard routes to the script ladder; Latin documents take
              -- the marker argmax, falling to the char-3-gram profile
              -- argmax at zero marker hits (all generated from the same
              -- SCRIPT_LADDER / LANG_MARKERS / LANG_TRIGRAMS tables)
              SELECT CASE
                WHEN len(regexp_extract_all(substr(text, 1,
                       {_TRIGRAM_WINDOW}), '{_NONLATIN_ANY_RE}'))
                     >= {_SCRIPT_MIN_CHARS}
                THEN {_script_case_sql()}
                ELSE {_lang_id_case_sql(else_sql=_trigram_case_sql())}
                END AS lang_detected
              FROM hits
            )
            SELECT lang_detected, count(*) AS n FROM lid GROUP BY lang_detected
        """,
        "text_features": rf"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS q_chars,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS q_tokens,
                     length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
                     string_split_regex(lower(text), '\s+') AS toks,
                     len(regexp_extract_all(text, '[A-Za-z0-9]+|[^\sA-Za-z0-9]'))
                       ::int AS tokens_bpe,
                     lower(regexp_replace(text, '\s+', ' ', 'g')) AS norm,
                     [trim(x) for x in string_split(coalesce(text, ''), chr(10))
                      if trim(x) != ''] AS lf
              FROM documents WHERE doc_id < 300
            ),
            g AS (
              SELECT doc_id, q_chars, q_tokens, tokens_bpe, norm, lf,
                     CASE WHEN q_tokens > 0 THEN q_chars::double / q_tokens ELSE 0.0 END AS mean_tok_len,
                     CASE WHEN q_chars > 0 THEN n_punct::double / q_chars ELSE 0.0 END AS punct_ratio,
                     {_stop_hits_sum_sql()} AS q_stopword_hits
              FROM f
            )
            SELECT doc_id, q_chars, q_tokens::int AS q_tokens,
                   round(mean_tok_len, 4) AS q_mean_token_len,
                   round(punct_ratio, 4) AS q_punct_ratio,
                   q_stopword_hits::int AS q_stopword_hits,
                   round(
                     (CASE WHEN q_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)::DOUBLE
                     * (CASE WHEN mean_tok_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)
                     * (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.5 END)
                     * (CASE WHEN q_stopword_hits >= 1 THEN 1.0 ELSE 0.3 END), 4
                   )::DOUBLE AS q_score,
                   q_tokens::int AS tokens_ws,
                   tokens_bpe,
                   {_PH.format(x="substr(norm, 1, 64) || '|' || length(norm)::varchar")} AS fingerprint,
                   len(lf)::int AS n_lines,
                   coalesce(round(len(list_filter(lf,
                       l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%'))
                     / nullif(len(lf), 0)::double, 4), 0.0) AS bullet_line_frac,
                   coalesce(round(len(list_filter(lf,
                       l -> l LIKE '%...' OR l LIKE '%…'))
                     / nullif(len(lf), 0)::double, 4), 0.0) AS ellipsis_line_frac,
                   coalesce(round(list_sum([length(l) for l in lf])
                     / nullif(len(lf), 0)::double, 2), 0.0) AS mean_line_chars
            FROM g
        """,
        "length_band_filter": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars ASC, doc_id ASC)
                       / (count(*) OVER (PARTITION BY lang))::double AS frac
              FROM documents
            ) WHERE frac > 0.05 AND frac <= 0.95
        """,
        "repetition_ngrams": rf"""
            WITH tok AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents WHERE doc_id < 300
            ),
            ng AS (
              SELECT doc_id, unnest({_SHINGLES3_ALL}) AS ng FROM tok
            ),
            counts AS (
              SELECT doc_id, ng, count(*) AS c FROM ng GROUP BY doc_id, ng
            ),
            per AS (
              SELECT doc_id,
                     sum(c)::int AS n_ngrams,
                     round(sum(CASE WHEN c > 1 THEN c*length(ng) ELSE 0 END)
                           ::double / sum(c*length(ng)), 4) AS dup_ngram_char_frac,
                     round(max(c*length(ng))::double / sum(c*length(ng)), 4)
                       AS top_ngram_char_frac
              FROM counts GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(per.n_ngrams, 0) AS n_ngrams,
                   coalesce(per.dup_ngram_char_frac, 0.0) AS dup_ngram_char_frac,
                   coalesce(per.top_ngram_char_frac, 0.0) AS top_ngram_char_frac
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
            WHERE d.doc_id < 300
        """,
        "top_terms": r"""
            WITH toks AS (
              SELECT lang,
                     unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
              FROM documents
            ),
            counts AS (
              SELECT lang, token, count(*) AS n FROM toks
              WHERE token != '' GROUP BY lang, token
            ),
            ttoks AS (
              SELECT doc_id, lang,
                     unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
              FROM documents WHERE doc_id < 300
            ),
            tbase AS (
              SELECT doc_id, lang, term, count(*) AS tc FROM ttoks
              WHERE term != '' GROUP BY doc_id, lang, term
            ),
            dl AS (SELECT doc_id, sum(tc) AS len FROM tbase GROUP BY doc_id),
            dfq AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM tbase GROUP BY term),
            nd AS (SELECT count(DISTINCT doc_id) AS n_docs
                   FROM documents WHERE doc_id < 300),
            scored AS (
              SELECT lang, term,
                     round(sum((tc::DOUBLE / len)
                               * (ln((n_docs + 1)::DOUBLE / (df + 1)) + 1)),
                           5) AS score
              FROM tbase JOIN dl USING (doc_id) JOIN dfq USING (term), nd
              GROUP BY lang, term
            )
            SELECT 'count' AS metric, lang, token AS term,
                   n::DOUBLE AS score, rank
            FROM (
              SELECT *, row_number() OVER (PARTITION BY lang
                                           ORDER BY n DESC, token ASC) AS rank
              FROM counts
            ) WHERE rank <= 5
            UNION ALL
            SELECT 'tfidf' AS metric, lang, term, score, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY lang
                                           ORDER BY score DESC, term ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "unigram_logprob": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
              FROM documents WHERE doc_id < 300
            ),
            base AS (
              SELECT doc_id, term, count(*) AS tc FROM toks
              WHERE term != '' GROUP BY doc_id, term
            ),
            corpus AS (SELECT term, sum(tc) AS cc FROM base GROUP BY term),
            tot AS (SELECT sum(cc)::DOUBLE AS tot FROM corpus),
            scores AS (
              SELECT doc_id,
                     round(sum(tc * ln(cc::DOUBLE / tot)) / sum(tc), 5)
                         AS mean_logprob,
                     sum(tc)::BIGINT AS n_tokens
              FROM base JOIN corpus USING (term), tot
              GROUP BY doc_id
            ),
            banded AS (
              SELECT s.doc_id, d.lang, s.mean_logprob, s.n_tokens,
                     ntile(3) OVER (PARTITION BY d.lang
                                    ORDER BY s.mean_logprob DESC,
                                             s.doc_id ASC) AS band
              FROM scores s JOIN documents d USING (doc_id)
            ),
            -- bigram LM (kind='bi'): Laplace-smoothed conditional
            -- p(v|u) = (C(u,v)+1)/(C(u,*)+V) under the corpus's own
            -- bigram counts; history count and successor vocabulary
            -- both derive from the bigram aggregate
            bt AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents WHERE doc_id < 300
            ),
            bgr AS (
              SELECT doc_id,
                     unnest([t[i] || ' ' || t[i+1]
                             for i in range(1, greatest(len(t)-1, 0)+1)])
                         AS bg
              FROM bt
            ),
            bbase AS (
              SELECT doc_id, bg, count(*) AS tc FROM bgr
              GROUP BY doc_id, bg
            ),
            bcorpus AS (
              SELECT bg, split_part(bg, ' ', 1) AS u, sum(tc) AS cc
              FROM bbase GROUP BY bg
            ),
            bhist AS (SELECT u, sum(cc) AS hc FROM bcorpus GROUP BY u),
            bvocab AS (
              SELECT count(DISTINCT split_part(bg, ' ', 2))::DOUBLE AS vsz
              FROM bcorpus
            ),
            bscored AS (
              SELECT b.doc_id,
                     round(sum(b.tc * ln((c.cc + 1.0)
                                         / (h.hc + v.vsz))) / sum(b.tc),
                           5) AS mean_logprob,
                     sum(b.tc)::BIGINT AS n_bigrams
              FROM bbase b
              JOIN bcorpus c USING (bg)
              JOIN bhist h ON c.u = h.u, bvocab v
              GROUP BY b.doc_id
            ),
            bscores AS (
              SELECT d.doc_id,
                     coalesce(s.mean_logprob, 0.0) AS mean_logprob,
                     coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams
              FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
              LEFT JOIN bscored s USING (doc_id)
            ),
            bbanded AS (
              SELECT s.doc_id, d.lang, s.mean_logprob, s.n_bigrams,
                     ntile(3) OVER (PARTITION BY d.lang
                                    ORDER BY s.mean_logprob DESC,
                                             s.doc_id ASC) AS band
              FROM bscores s JOIN documents d USING (doc_id)
            )
            SELECT 'uni' AS kind, doc_id, lang, mean_logprob,
                   n_tokens AS n_units, band,
                   CASE WHEN band = 1 THEN 'head'
                        WHEN band = 3 THEN 'tail'
                        ELSE 'middle' END AS band_name
            FROM banded
            UNION ALL
            SELECT 'bi' AS kind, doc_id, lang, mean_logprob,
                   n_bigrams AS n_units, band,
                   CASE WHEN band = 1 THEN 'head'
                        WHEN band = 3 THEN 'tail'
                        ELSE 'middle' END AS band_name
            FROM bbanded
        """,
        "sample_and_split": f"""
            WITH sampled AS (
              SELECT doc_id, lang, source FROM (
                SELECT doc_id, lang, source,
                       {_PH.format(x="doc_id::varchar")} % 1000 AS hb,
                       row_number() OVER (
                         PARTITION BY lang
                         ORDER BY {_PH.format(x="doc_id::varchar")} % 1000 ASC,
                                  doc_id ASC) AS rn
                FROM documents
                WHERE {_PH.format(x="doc_id::varchar")} % 1000 < 300
              ) WHERE rn <= 15
            )
            SELECT doc_id, lang, source,
                   CASE WHEN {_PH.format(x="doc_id::varchar")} % 100 < 95
                        THEN 'train' ELSE 'val' END AS split
            FROM sampled
        """,
        "link_graph": """
            WITH corpus AS (
              SELECT 'h' || (doc_id % 7)::varchar || '.example' AS src,
                     '<html><body><a href="https://h'
                       || ((doc_id * 2 + 1) % 7)::varchar
                       || '.example/p1">x</a><a href="/rel/p">y</a>'
                       || '<a href="https://h'
                       || ((doc_id * 3 + 2) % 10)::varchar
                       || '.example/p2">z</a></body></html>' AS html
              FROM documents WHERE doc_id < 400
            ),
            hrefs AS (
              SELECT src,
                     unnest(regexp_extract_all(html, 'href="([^"]*)"', 1))
                         AS href
              FROM corpus
            ),
            anchors AS (
              SELECT 'h' || ((doc_id * 2 + 1) % 7)::varchar
                         || '.example' AS dst, 'x' AS anchor_text
              FROM documents WHERE doc_id < 400
              UNION ALL
              SELECT 'h' || ((doc_id * 3 + 2) % 10)::varchar
                         || '.example', 'z'
              FROM documents WHERE doc_id < 400
            )
            SELECT DISTINCT 'edge' AS kind, src,
                   regexp_extract(href, '^https?://([^/]+)', 1) AS dst,
                   '' AS anchor_text, 0::BIGINT AS n
            FROM hrefs
            WHERE regexp_extract(href, '^https?://([^/]+)', 1) != ''
              AND regexp_extract(href, '^https?://([^/]+)', 1) != src
            UNION ALL
            SELECT 'anchor' AS kind, '' AS src, dst, anchor_text,
                   count(*) AS n
            FROM anchors GROUP BY dst, anchor_text
            UNION ALL
            SELECT 'sitemap_sitemap' AS kind,
                   'h' || (doc_id % 5)::varchar || '.example' AS src,
                   'https://h' || (doc_id % 5)::varchar || '.example/sm'
                     || doc_id::varchar || '.xml' AS dst,
                   '' AS anchor_text, 0::BIGINT AS n
            FROM documents WHERE doc_id < 200 AND doc_id % 10 = 0
            UNION ALL
            SELECT 'sitemap_url' AS kind,
                   'h' || (doc_id % 5)::varchar || '.example' AS src,
                   'https://h' || (doc_id % 5)::varchar || '.example/s'
                     || doc_id::varchar AS dst,
                   '2021-07-0' || (doc_id % 9 + 1)::varchar AS anchor_text,
                   0::BIGINT AS n
            FROM documents WHERE doc_id < 200 AND doc_id % 10 != 0
            UNION ALL
            SELECT 'sitemap_url' AS kind,
                   'h' || (doc_id % 5)::varchar || '.example' AS src,
                   'https://h' || (doc_id % 5)::varchar || '.example/q?a=1&b='
                     || doc_id::varchar AS dst,
                   '' AS anchor_text, 0::BIGINT AS n
            FROM documents WHERE doc_id < 200 AND doc_id % 10 != 0
            UNION ALL
            -- wat_link rows: the arithmetic image of the synthesized
            -- WAT envelope after wat_links' from_json+explode (first
            -- link has no "text" key -> '' after the parse coalesce)
            SELECT 'wat_link' AS kind,
                   'https://h' || (doc_id % 5)::varchar || '.example/p'
                     || doc_id::varchar AS src,
                   'https://h' || ((doc_id * 2 + 1) % 5)::varchar
                     || '.example/w' AS dst,
                   'T' || doc_id::varchar || '|' AS anchor_text,
                   0::BIGINT AS n
            FROM documents WHERE doc_id < 200
            UNION ALL
            SELECT 'wat_link' AS kind,
                   'https://h' || (doc_id % 5)::varchar || '.example/p'
                     || doc_id::varchar AS src,
                   '/rel/x' AS dst,
                   'T' || doc_id::varchar || '|r' || doc_id::varchar
                     AS anchor_text,
                   0::BIGINT AS n
            FROM documents WHERE doc_id < 200
            UNION ALL
            -- feed rows: arithmetic image of the synthesized RSS item
            -- (even docs, CDATA title unwrapped) / Atom entry (odd)
            SELECT CASE WHEN doc_id % 2 = 0 THEN 'feed_rss'
                        ELSE 'feed_atom' END AS kind,
                   'h' || (doc_id % 5)::varchar || '.example' AS src,
                   'https://h' || (doc_id % 5)::varchar || '.example/r'
                     || doc_id::varchar AS dst,
                   '2021-07-0' || (doc_id % 9 + 1)::varchar || '|F'
                     || doc_id::varchar AS anchor_text,
                   0::BIGINT AS n
            FROM documents WHERE doc_id < 200
            UNION ALL
            -- cdx rows: arithmetic image of the synthesized index —
            -- status/mime filters FIRST (the selection's pushed
            -- predicates), then one capture per digest (earliest ts,
            -- lowest urlkey)
            SELECT 'cdx' AS kind, urlkey AS src, url AS dst,
                   filename AS anchor_text, "offset" AS n
            FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY digest ORDER BY ts, urlkey) AS rn
              FROM (
                SELECT 'example,h' || (doc_id % 5)::varchar || ')/p'
                         || doc_id::varchar AS urlkey,
                       '20240101000000' AS ts,
                       'https://h' || (doc_id % 5)::varchar
                         || '.example/p' || doc_id::varchar AS url,
                       'sha1:' || (doc_id % 67)::varchar AS digest,
                       'f' || (doc_id % 5)::varchar || '.warc.gz'
                         AS filename,
                       (doc_id * 100)::BIGINT AS "offset"
                FROM documents
                WHERE doc_id < 200 AND doc_id % 7 <> 0
                  AND doc_id % 11 <> 0
              )
            ) WHERE rn = 1
        """,
        "pagerank_hosts": """
            WITH links AS (
              SELECT DISTINCT src, dst FROM (
                SELECT 'h' || (doc_id % 7)::varchar || '.example' AS src,
                       'h' || ((doc_id * 2 + 1) % 7)::varchar
                           || '.example' AS dst
                FROM documents WHERE doc_id < 400
                UNION ALL
                SELECT 'h' || (doc_id % 7)::varchar || '.example',
                       'h' || ((doc_id * 3 + 2) % 10)::varchar || '.example'
                FROM documents WHERE doc_id < 400
              ) WHERE src != dst
            ),
            nodes AS (
              SELECT DISTINCT host FROM (
                SELECT src AS host FROM links
                UNION ALL SELECT dst FROM links
              )
            ),
            p AS (SELECT count(*)::DOUBLE AS n FROM nodes),
            deg AS (SELECT src, count(*)::DOUBLE AS outd
                    FROM links GROUP BY src),
            r0 AS (SELECT host, 1.0 / (SELECT n FROM p) AS rank FROM nodes),
            d1 AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r0 r
                   LEFT JOIN deg ON r.host = deg.src WHERE deg.src IS NULL),
            c1 AS (SELECT l.dst AS host, sum(r.rank / deg.outd) AS inflow
                   FROM r0 r JOIN deg ON r.host = deg.src
                   JOIN links l ON l.src = r.host GROUP BY l.dst),
            r1 AS (SELECT nodes.host,
                          0.15 / (SELECT n FROM p)
                          + 0.85 * (coalesce(c1.inflow, 0)
                                    + (SELECT dm FROM d1) / (SELECT n FROM p))
                              AS rank
                   FROM nodes LEFT JOIN c1 ON nodes.host = c1.host),
            d2 AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r1 r
                   LEFT JOIN deg ON r.host = deg.src WHERE deg.src IS NULL),
            c2 AS (SELECT l.dst AS host, sum(r.rank / deg.outd) AS inflow
                   FROM r1 r JOIN deg ON r.host = deg.src
                   JOIN links l ON l.src = r.host GROUP BY l.dst),
            r2 AS (SELECT nodes.host,
                          0.15 / (SELECT n FROM p)
                          + 0.85 * (coalesce(c2.inflow, 0)
                                    + (SELECT dm FROM d2) / (SELECT n FROM p))
                              AS rank
                   FROM nodes LEFT JOIN c2 ON nodes.host = c2.host),
            d3 AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r2 r
                   LEFT JOIN deg ON r.host = deg.src WHERE deg.src IS NULL),
            c3 AS (SELECT l.dst AS host, sum(r.rank / deg.outd) AS inflow
                   FROM r2 r JOIN deg ON r.host = deg.src
                   JOIN links l ON l.src = r.host GROUP BY l.dst),
            r3 AS (SELECT nodes.host,
                          0.15 / (SELECT n FROM p)
                          + 0.85 * (coalesce(c3.inflow, 0)
                                    + (SELECT dm FROM d3) / (SELECT n FROM p))
                              AS rank
                   FROM nodes LEFT JOIN c3 ON nodes.host = c3.host)
            SELECT host, round(rank, 6) AS rank FROM r3
        """,
        "robots_filter": """
            SELECT 'robots' AS gate, doc_id,
                   'h' || (doc_id % 5)::varchar || '.example' AS host,
                   'https://h' || (doc_id % 5)::varchar || '.example'
                     || (CASE doc_id % 4 WHEN 0 THEN '/a'
                         WHEN 1 THEN '/private' WHEN 2 THEN '/tmp'
                         ELSE '/pub' END)
                     || '/p' || doc_id::varchar AS url
            FROM documents
            WHERE doc_id < 400
              AND NOT (
                (doc_id % 5 IN (0, 1) AND doc_id % 4 IN (1, 2))
                OR (doc_id % 5 = 3 AND doc_id % 4 = 0
                    AND doc_id::varchar NOT LIKE '1%')
                OR (doc_id % 5 = 4 AND doc_id % 4 = 1
                    AND doc_id::varchar NOT LIKE '1%')
              )
            UNION ALL
            -- blocklist arm: hosts on a 'bad*' domain (doc_id % 4 = 0)
            -- are blocked whether exact (doc_id % 5 = 0) or subdomain;
            -- 'ok*' domains all survive ('ad9.example' in the list is
            -- a substring of nothing's suffix here)
            SELECT 'blocklist' AS gate, doc_id, host,
                   'https://' || host || '/x' || doc_id::varchar AS url
            FROM (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN dom
                          ELSE 's' || (doc_id % 7)::varchar || '.' || dom
                     END AS host
              FROM (
                SELECT doc_id,
                       (CASE WHEN doc_id % 4 = 0 THEN 'bad' ELSE 'ok' END)
                         || (doc_id % 3)::varchar || '.example' AS dom
                FROM documents WHERE doc_id < 400
              )
            )
            WHERE doc_id % 4 <> 0
        """,
        "normalize_pii_scrub": r"""
            WITH dirty AS (
              SELECT doc_id,
                     '“Q” — ' || text || ' contact bob' || doc_id::varchar
                       || '@mail.example or +49 30 55512'
                       || (doc_id % 100)::varchar
                       || ' ip 10.0.0.' || (doc_id % 255)::varchar
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' card 4111 1111 1111 1111 ok'
                               WHEN doc_id % 3 = 1
                               THEN ' card 4111 1111 1111 1112 no'
                               ELSE '' END
                       || CASE WHEN doc_id % 4 = 0
                               THEN ' iban DE89370400440532013000 here'
                               WHEN doc_id % 4 = 1
                               THEN ' iban DE89 3704 0044 0532 0130 00 here'
                               WHEN doc_id % 4 = 2
                               THEN ' iban DE89-3704-0044-0532-0130-01 here'
                               ELSE ' iban DE89370400440532013001 here'
                               END
                       || '  ‘x’' || chr(160) || 'y' || chr(9) AS t
              FROM documents WHERE doc_id < 200
            ),
            norm AS (
              SELECT doc_id,
                     trim(regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(t,
                                 '[‘’‚′]', '''', 'g'),
                               '[“”„″]', '"', 'g'),
                             '[–—−]', '-', 'g'),
                           chr(160), ' ', 'g'),
                         '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
                       '\s+', ' ', 'g')) AS text_norm
              FROM dirty
            ),
            s1 AS (
              SELECT doc_id, text_norm,
                     len(regexp_extract_all(text_norm,
                         '[A-Za-z0-9.+_-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.-]+'))::int AS n_emails,
                     regexp_replace(text_norm,
                         '[A-Za-z0-9.+_-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.-]+',
                         '<EMAIL>', 'g') AS t
              FROM norm
            ),
            -- mod-97-valid IBANs (before IPs/cards/phones)
            s1b AS (
              SELECT doc_id, text_norm, n_emails,
                     len(__IBAN_LIST__)::int AS n_ibans,
                     list_reduce(
                       list_prepend(t, list_distinct(__IBAN_LIST__)),
                       (acc, c) -> replace(acc, c, '<IBAN>')) AS t
              FROM s1
            ),
            s2 AS (
              SELECT doc_id, text_norm, n_emails, n_ibans,
                     len(regexp_extract_all(t,
                         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::int AS n_ips,
                     regexp_replace(t,
                         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                         '<IP>', 'g') AS t
              FROM s1b
            ),
            -- Luhn-valid payment cards (checked BEFORE phones: a valid
            -- PAN becomes <CC>; an invalid digit run falls through to
            -- the phone scrubber)
            s3 AS (
              SELECT doc_id, text_norm, n_emails, n_ibans, n_ips,
                     len(__LUHN_CARDS__)::int AS n_cards,
                     list_reduce(
                       list_prepend(t, list_distinct(__LUHN_CARDS__)),
                       (acc, c) -> replace(acc, c, '<CC>')) AS t
              FROM s2
            )
            SELECT doc_id, text_norm, n_emails, n_ibans, n_ips, n_cards,
                   len(regexp_extract_all(t,
                       '\+?[0-9][0-9 ()/-]{6,}[0-9]'))::int AS n_phones,
                   regexp_replace(t, '\+?[0-9][0-9 ()/-]{6,}[0-9]',
                                  '<PHONE>', 'g') AS scrubbed
            FROM s3
        """.replace(
            "__LUHN_CARDS__",
            _luhn_filter_sql(
                r"regexp_extract_all(t, '\b(?:\d[ -]?){12,18}\d\b')"
            ),
        ).replace(
            "__IBAN_LIST__",
            _iban_filter_sql(
                r"regexp_extract_all(t, "
                r"'\b[A-Z]{2}[0-9]{2}(?:[ -]?[A-Z0-9]{4}){2,7}"
                r"(?:[ -]?[A-Z0-9]{1,3})?\b')"
            ),
        ),
        "kmeans_assign": f"""
            WITH vecs AS (
              SELECT vec_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 200
            ),
            c0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v
              FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 4)
            ),
            a1 AS (
              SELECT vec_id, v, cluster FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dist ASC, cluster ASC)
                              AS rn
                FROM (
                  SELECT vecs.vec_id, vecs.v, c0.cluster,
                         round(list_sum([
                           (vecs.v[i] - c0.v[i]) * (vecs.v[i] - c0.v[i])
                           for i in range(1, 65)]), 6) AS dist
                  FROM vecs, c0
                )
              ) WHERE rn = 1
            ),
            dims AS (
              SELECT a1.cluster, d.i, round(avg(a1.v[d.i]), 6) AS cv
              FROM a1, (SELECT unnest(range(1, 65)) AS i) d
              GROUP BY a1.cluster, d.i
            ),
            c1 AS (
              -- empty clusters keep their INIT centroid (engine:
              -- got.get(j, cents[j])), mirrored via left-join+coalesce
              SELECT c0.cluster, coalesce(m.v, c0.v) AS v
              FROM c0 LEFT JOIN (
                SELECT cluster, list(cv ORDER BY i) AS v FROM dims
                GROUP BY cluster
              ) m USING (cluster)
            ),
            {_pq_oracle_sql()}
            SELECT 'kmeans' AS kind, vec_id, cluster, dist FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist ASC, cluster ASC)
                            AS rn
              FROM (
                SELECT vecs.vec_id, c1.cluster,
                       round(list_sum([
                         (vecs.v[i] - c1.v[i]) * (vecs.v[i] - c1.v[i])
                         for i in range(1, 65)]), 6) AS dist
                FROM vecs, c1
              )
            ) WHERE rn = 1
            UNION ALL
            SELECT 'pq' AS kind, vec_id, cluster, dist FROM pq
        """,
        "weighted_source_sample": f"""
            WITH w(source, permille) AS (
              VALUES ('src0', 1000), ('src1', 500), ('src2', 100)
            )
            SELECT doc_id, d.source, lang
            FROM documents d JOIN w USING (source)
            WHERE {_PH.format(x="doc_id::varchar")} % 1000 < permille
        """,
        "chunk_documents": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(coalesce(text, ''),
                                                    '\s+'),
                                 x -> x != '') AS t
              FROM documents WHERE doc_id < 300
            ),
            -- data-driven chunk-index domain: no silent cap
            mx AS (SELECT greatest(max(ceil(len(t) / 16.0)), 1)::BIGINT AS m
                   FROM toks)
            SELECT doc_id,
                   i::int AS chunk_idx,
                   array_to_string(t[i*16+1 : i*16+16], ' ') AS chunk_text,
                   least(len(t) - i*16, 16)::int AS n_tokens
            FROM toks, (SELECT unnest(range(0, (SELECT m FROM mx))) AS i)
            WHERE len(t) > 0 AND i < ceil(len(t) / 16.0)
        """,
        "snapshot_diff": """
            SELECT doc_id,
                   CASE WHEN doc_id < 50 THEN 'removed'
                        WHEN doc_id >= 350 THEN 'added'
                        WHEN doc_id % 10 = 0 THEN 'changed'
                        ELSE 'unchanged' END AS change
            FROM documents WHERE doc_id < 400
        """,
        "windowed_agg": """
            WITH slotted AS (
              SELECT to_timestamp((floor(epoch(ts))::BIGINT // 1800) * 1800
                                  - k.k) AS w_start,
                     value
              FROM events, (SELECT unnest([0, 1800]) AS k) k
              WHERE user_id < 300
            )
            SELECT 'tumbling' AS win_kind,
                   strftime(to_timestamp((floor(epoch(ts))::BIGINT // 3600) * 3600),
                            '%Y-%m-%d %H:%M:%S') AS w_start,
                   event_type, count(*) AS n,
                   round(sum(value::DECIMAL(24,6)), 3)::DOUBLE AS sum_value
            FROM events WHERE user_id < 500
            GROUP BY 2, 3
            UNION ALL
            SELECT 'sliding' AS win_kind,
                   strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
                   '(all)' AS event_type, count(*) AS n,
                   round(sum(value::DECIMAL(24,6)), 3)::DOUBLE AS sum_value
            FROM slotted GROUP BY 2
        """,
        "sessionize_events": """
            WITH ordered AS (
              SELECT user_id, ts, event_id,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev_ts
              FROM events WHERE user_id < 300
            ),
            flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN prev_ts IS NULL
                          OR date_diff('second', prev_ts, ts) > 1800
                          THEN 1 ELSE 0 END AS is_start
              FROM ordered
            ),
            sess AS (
              SELECT user_id, ts,
                     sum(is_start) OVER (PARTITION BY user_id
                                         ORDER BY ts ASC, event_id ASC
                                         ROWS UNBOUNDED PRECEDING) AS session_idx
              FROM flagged
            )
            SELECT user_id, session_idx::BIGINT AS session_idx,
                   count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s
            FROM sess GROUP BY user_id, session_idx
        """,
        "audio_duration": """
            SELECT 'wav-' || doc_id::varchar AS media_ref,
                   'wav' AS fmt,
                   1 AS channels,
                   8000 AS sample_rate,
                   ((doc_id % 50 + 1) * 320 / 16)::int AS duration_ms,
                   (44 + (doc_id % 50 + 1) * 320)::BIGINT AS n_bytes
            FROM documents WHERE doc_id < 200
        """,
        "decontaminate": r"""
            WITH doc_sh AS (
              SELECT doc_id, unnest(list_distinct(
                       [array_to_string(toks[i:i+7], ' ')
                        for i in range(1, greatest(len(toks)-7, 0)+1)])) AS sh
              FROM (SELECT doc_id,
                           string_split_regex(lower(trim(text)), '\s+') AS toks
                    FROM documents WHERE doc_id < 300)
            ),
            bench_sh AS (
              SELECT DISTINCT unnest(list_distinct(
                       [array_to_string(toks[i:i+7], ' ')
                        for i in range(1, greatest(len(toks)-7, 0)+1)])) AS sh
              FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
                    FROM documents WHERE doc_id % 7 = 0)
            ),
            hits AS (
              SELECT DISTINCT doc_id FROM doc_sh
              WHERE sh IN (SELECT sh FROM bench_sh)
            )
            SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
            WHERE d.doc_id < 300
        """,
        "pack_sequences": r"""
            WITH toks AS (
              SELECT source, doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END AS tok
              FROM documents
            ),
            packed AS (
              SELECT source, doc_id, tok,
                     floor((sum(tok) OVER (PARTITION BY source
                                           ORDER BY doc_id ASC
                                           ROWS UNBOUNDED PRECEDING) - tok)
                           / 512)::int AS pack_id
              FROM toks
            )
            SELECT source, pack_id, count(*) AS n_docs,
                   sum(tok)::BIGINT AS n_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM packed GROUP BY source, pack_id
        """,
        "cosine_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 5
            ),
            c AS (
              SELECT vec_id, embedding::DOUBLE[] AS cv
              FROM embeddings WHERE vec_id >= 5
            ),
            scored AS (
              SELECT query_id, vec_id,
                     round(
                       list_sum([qv[i]*cv[i] for i in range(1, len(qv)+1)]) /
                       (sqrt(list_sum([x*x for x in qv]))
                        * sqrt(list_sum([x*x for x in cv]))), 3) AS cos
              FROM q, c
            )
            SELECT query_id, vec_id, cos, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "lsh_ann_topk": rf"""
            WITH planes AS (
              SELECT j,
                     [ CASE WHEN {_PH.format(x="j::varchar || '_' || i::varchar")} % 2 = 0
                            THEN 1.0 ELSE -1.0 END
                       for i in range(0, 64) ] AS w
              FROM (SELECT unnest(range(0, 4)) AS j)
            ),
            vecs AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE vec_id < 1000
            ),
            sigs AS (
              SELECT vec_id, v,
                     sum(CASE WHEN list_sum([v[i]*w[i] for i in range(1, 65)]) >= 0
                              THEN 1 << j ELSE 0 END)::BIGINT AS bucket
              FROM vecs, planes GROUP BY vec_id, v
            ),
            q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM sigs WHERE vec_id < 5),
            qm AS (
              SELECT vec_id AS query_id, v AS qv,
                     unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                             xor(bucket, 4), xor(bucket, 8)]) AS bucket
              FROM sigs WHERE vec_id < 5
            ),
            c AS (SELECT vec_id, v AS cv, bucket FROM sigs WHERE vec_id >= 5),
            scored0 AS (
              SELECT query_id, vec_id,
                     round(
                       list_sum([qv[i]*cv[i] for i in range(1, len(qv)+1)]) /
                       (sqrt(list_sum([x*x for x in qv]))
                        * sqrt(list_sum([x*x for x in cv]))), 3) AS cos
              FROM q JOIN c ON q.bucket = c.bucket
            ),
            scoredm AS (
              SELECT query_id, vec_id,
                     round(
                       list_sum([qv[i]*cv[i] for i in range(1, len(qv)+1)]) /
                       (sqrt(list_sum([x*x for x in qv]))
                        * sqrt(list_sum([x*x for x in cv]))), 3) AS cos
              FROM qm JOIN c ON qm.bucket = c.bucket
            )
            SELECT 0 AS probes, query_id, vec_id, cos, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored0
            ) WHERE rank <= 5
            UNION ALL
            SELECT 4 AS probes, query_id, vec_id, cos, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scoredm
            ) WHERE rank <= 5
        """,
        "embedding_neardup": rf"""
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200
              UNION ALL
              SELECT vec_id + 10000 AS vec_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 200
            ),
            planes AS (
              SELECT j,
                     [ CASE WHEN {_PH.format(x="j::varchar || '_' || i::varchar")} % 2 = 0
                            THEN 1.0 ELSE -1.0 END
                       for i in range(0, 64) ] AS w
              FROM (SELECT unnest(range(0, 4)) AS j)
            ),
            sigs AS (
              SELECT vec_id, v,
                     sum(CASE WHEN list_sum([v[i]*w[i] for i in range(1, 65)]) >= 0
                              THEN 1 << j ELSE 0 END)::BIGINT AS bucket
              FROM base, planes GROUP BY vec_id, v
            ),
            capped AS (
              SELECT vec_id, v, bucket FROM (
                SELECT vec_id, v, bucket,
                       row_number() OVER (PARTITION BY bucket
                                          ORDER BY vec_id) AS rn
                FROM sigs
              ) WHERE rn <= 24
            )
            SELECT x.vec_id AS a, y.vec_id AS b,
                   round(
                     list_sum([x.v[i]*y.v[i] for i in range(1, 65)]) /
                     (sqrt(list_sum([e*e for e in x.v]))
                      * sqrt(list_sum([e*e for e in y.v]))), 3) AS cos
            FROM capped x JOIN capped y ON x.bucket = y.bucket
            WHERE x.vec_id < y.vec_id
              AND round(
                    list_sum([x.v[i]*y.v[i] for i in range(1, 65)]) /
                    (sqrt(list_sum([e*e for e in x.v]))
                     * sqrt(list_sum([e*e for e in y.v]))), 3) >= 0.999
        """,
    }
