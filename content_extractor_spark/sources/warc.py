"""WARC source connector: crawl archives -> the pipeline's documents.

Web-scale corpora arrive as directories of ~1 GB ``.warc.gz`` files
(the Common Crawl convention). This connector turns them into the
interleaved ``documents(doc_id, spans, host, url, ...)`` shape the
extraction pipeline consumes.

Scale design (100 TB = ~100k WARC files):
  * the FILE is the parallelism unit — ``binaryFile`` gives one row
    per file and Spark schedules one task per file, the standard
    shape for WARC processing on Spark. A 1 GB compressed member
    stream inflates record-by-record inside the task (the per-member
    gzip framing exists exactly for this), so peak memory is one
    compressed file + one inflated record, not the inflated file.
  * record parsing is a single mapInPandas stage (Arrow-batched);
    everything downstream (host parsing, span wrapping) is Catalyst.
  * malformed/truncated records become rows with ``error`` set —
    counted, never task failures (same status-column policy as the
    extraction stage, reference O4).
  * ``binaryFile`` never splits a file: the hard ceiling is the JVM
    byte-array limit (~2 GB per file — larger archives must be
    repacked; Common Crawl caps at ~1.2 GB so the standard layout is
    always safe). ``spark.sql.files.maxPartitionBytes`` only controls
    how many SMALL files pack into one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import read_prior

WARC_RECORDS_DDL = (
    "warc_file string, record_id string, warc_type string, "
    "url string, warc_date string, http_status int, "
    "content_type string, payload binary, error string"
)


def read_warc(
    spark: SparkSession,
    path: str,
    warc_types: tuple = ("response",),
) -> DataFrame:
    """(warc_file, record_id, warc_type, url, warc_date, http_status,
    content_type, payload, error) rows from .warc / .warc.gz files."""
    from ..kernel.warc import iter_warc_records

    types = set(warc_types) if warc_types else None

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.split(" ")[0]: [] for k in WARC_RECORDS_DDL.split(", ")}
            for fname, content in zip(pdf["path"], pdf["content"]):
                for rec in iter_warc_records(bytes(content)):
                    if types and rec.warc_type not in types and not rec.error:
                        continue
                    out["warc_file"].append(fname)
                    out["record_id"].append(rec.record_id)
                    out["warc_type"].append(rec.warc_type)
                    out["url"].append(rec.target_uri)
                    out["warc_date"].append(rec.warc_date)
                    out["http_status"].append(rec.http_status)
                    out["content_type"].append(
                        rec.http_content_type or rec.content_type
                    )
                    out["payload"].append(rec.payload)
                    out["error"].append(rec.error)
            yield pd.DataFrame(out)

    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )
    return files.mapInPandas(run, schema=WARC_RECORDS_DDL)


def warc_documents(records: DataFrame) -> DataFrame:
    """OK html response records -> the pipeline's interleaved documents
    shape (single text span holding the page text; media spans come
    later from extraction); host from the url, WARC ids/dates carried
    through.

    The page bytes decode per-row via the HTTP charset param / WHATWG
    meta prescan / windows-1252 aliasing (real crawls are far from
    all-UTF-8) — an Arrow-batched pandas UDF that fuses into this
    select, no extra stage boundary.
    """
    ok = records.where(
        F.col("error").isNull()
        & (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("content_type").startswith("text/html")
    )
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _decode(payload, ctype):
        import pandas as pd

        from ..kernel.warc import decode_html_bytes

        return pd.Series(
            [
                None if p is None else decode_html_bytes(bytes(p), c)
                for p, c in zip(payload, ctype)
            ]
        )

    html = _decode(F.col("payload"), F.col("content_type"))
    span = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            html.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )
    return ok.select(
        F.regexp_replace(F.col("record_id"), r"[<>]", "").alias("doc_id"),
        span.alias("spans"),
        F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1).alias("host"),
        F.col("url"),
        F.col("record_id").alias("url_id"),
        F.col("warc_date").alias("last_crawl"),
        F.lit(None).cast("string").alias("etag"),
    )


# Common Crawl WAT envelope subset: head title + outgoing anchors.
# Dashed field names are quoted; everything else in the envelope is
# ignored by from_json (permissive-by-schema, the Spark JSON contract).
WAT_ENVELOPE_DDL = (
    "STRUCT<`Envelope`: STRUCT<"
    "`WARC-Header-Metadata`: STRUCT<`WARC-Target-URI`: STRING>, "
    "`Payload-Metadata`: STRUCT<`HTTP-Response-Metadata`: STRUCT<"
    "`HTML-Metadata`: STRUCT<"
    "`Head`: STRUCT<`Title`: STRING>, "
    "`Links`: ARRAY<STRUCT<`path`: STRING, `url`: STRING, "
    "`text`: STRING>>>>>>>"
)


def wat_links(records: DataFrame) -> DataFrame:
    """WAT ``metadata`` records -> one row per outgoing link:
    (src_url, title, link_path, link_url, link_text).

    Pure Catalyst — ``from_json`` over the JSON envelope + explode; no
    Python stage, so the link graph of a 100 TB crawl comes out of its
    WAT sidecars at scan speed without ever re-parsing HTML. The
    page url prefers the envelope's WARC-Header-Metadata and falls
    back to the record's own WARC-Target-URI header."""
    env = F.from_json(F.col("payload").cast("string"), WAT_ENVELOPE_DDL)
    html_meta = env["Envelope"]["Payload-Metadata"][
        "HTTP-Response-Metadata"
    ]["HTML-Metadata"]
    return (
        records.where(
            F.col("error").isNull() & (F.col("warc_type") == "metadata")
        )
        .select(
            F.coalesce(
                env["Envelope"]["WARC-Header-Metadata"]["WARC-Target-URI"],
                F.col("url"),
            ).alias("src_url"),
            F.coalesce(html_meta["Head"]["Title"], F.lit("")).alias("title"),
            F.explode(html_meta["Links"]).alias("link"),
        )
        .where(F.col("link.url").isNotNull())
        .select(
            "src_url",
            "title",
            F.coalesce(F.col("link.path"), F.lit("")).alias("link_path"),
            F.col("link.url").alias("link_url"),
            F.coalesce(F.col("link.text"), F.lit("")).alias("link_text"),
        )
    )


def _list_warc_files(spark: SparkSession, in_dir: str) -> list:
    """Deterministic WARC file listing via the Hadoop FileSystem API —
    works for local, HDFS and object-store paths alike."""
    jvm = spark._jvm  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    path = jvm.org.apache.hadoop.fs.Path(in_dir)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return []
    out = []
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if status.isFile() and (
            name.endswith(".warc") or name.endswith(".warc.gz")
            or name.endswith(".warc.wet.gz") or name.endswith(".wet.gz")
            or name.endswith(".warc.wat.gz") or name.endswith(".wat.gz")
        ):
            out.append(status.getPath().toString())
    return sorted(out)


FILE_LEDGER_DDL = "file string, status string, batch string"


def read_file_ledger(spark: SparkSession, ledger_path: str):
    """(done_files, committed_batches) from a file ledger, tolerating
    pre-batch-column ledgers (their batch reads as null) and a
    not-yet-existing path."""
    ledger = read_prior(spark, ledger_path, FILE_LEDGER_DDL)
    if ledger is None:
        return set(), set()
    rows = ledger.collect()
    return {r["file"] for r in rows}, {r["batch"] for r in rows if r["batch"]}


def commit_file_ledger(spark, ledger_path: str, files, batch: str) -> None:
    """Append (file, done, batch) rows — the atomicity point of a run."""
    spark.createDataFrame(
        [(f, "done", batch) for f in files], FILE_LEDGER_DDL,
    ).write.mode("append").parquet(ledger_path)


def batch_id(files) -> str:
    """Deterministic id for a batch of input files."""
    import hashlib

    return hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()[:16]


def drop_orphan_batches(spark, data_path: str, committed) -> list:
    """Delete ``ingest_batch=*`` subdirectories whose batch id is not
    in the ledger — leftovers of a run that crashed between the data
    write and the ledger commit. This is what makes ingestion
    exactly-once rather than at-least-once: the re-run regenerates the
    batch instead of appending a second copy. Driver-side O(batches)
    directory listing, never a data scan."""
    jvm = spark._jvm  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    path = jvm.org.apache.hadoop.fs.Path(data_path)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return []
    dropped = []
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name.startswith("ingest_batch="):
            bid = name.split("=", 1)[1]
            if bid not in committed:
                fs.delete(status.getPath(), True)
                dropped.append(bid)
    return dropped
