"""CDXJ crawl-index connector: Common Crawl's index -> fetch plans.

A 100 TB crawl is consumed selectively: the CDXJ index (one line per
capture: ``<urlkey> <timestamp> <json>``) is how a pipeline decides
WHICH WARC byte ranges to read before touching any archive bytes.
This connector parses the index and applies the standard capture
selection (status/mime filters, one capture per content digest).

Scale notes:
  * ``spark.read.text`` splits ``.cdx.gz`` shards per file and large
    plain shards by range — the index of a full monthly crawl (~300 GB
    compressed) parallelizes naturally.
  * parsing is pure Catalyst (``split`` + ``from_json``) — no Python.
  * selection dedup shuffles once on the content digest (uniform,
    SHA-1-derived); everything else is map-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# CDXJ JSON envelope: every field is a STRING in the spec (numbers
# included); extra fields are ignored by from_json
CDX_JSON_DDL = (
    "url string, mime string, `mime-detected` string, status string, "
    "digest string, length string, offset string, filename string, "
    "languages string, charset string, redirect string"
)


def parse_cdx_lines(lines: DataFrame) -> DataFrame:
    """Parse CDXJ lines (``<urlkey> <ts> <json>``) from the ``value``
    string column into typed capture rows: (urlkey, ts, url, mime, status,
    digest, length, offset, filename, languages, error). Malformed
    lines become ``error`` rows, never task failures (the same
    status-column policy as the WARC parser). Pure Catalyst."""
    parts = F.split(F.col("value"), " ", 3)
    # F.get tolerates short splits (a malformed line must become an
    # error ROW, not an ArrayIndexOutOfBounds task failure)
    env = F.from_json(F.get(parts, 2), CDX_JSON_DDL)
    ok = F.get(parts, 2).isNotNull() & env["url"].isNotNull()
    return lines.select(
        parts[0].alias("urlkey"),
        F.get(parts, 1).alias("ts"),
        env["url"].alias("url"),
        F.coalesce(env["mime"], env["mime-detected"]).alias("mime"),
        env["status"].cast("int").alias("status"),
        env["digest"].alias("digest"),
        env["length"].cast("long").alias("length"),
        env["offset"].cast("long").alias("offset"),
        env["filename"].alias("filename"),
        env["languages"].alias("languages"),
        F.when(ok, F.lit(None).cast("string")).otherwise(
            F.lit("malformed cdx line")
        ).alias("error"),
    )


def cdx_select(captures: DataFrame) -> DataFrame:
    """The standard capture selection: keep status-200 captures whose
    mime is text/html (or unknown), and ONE capture per content digest
    — the earliest timestamp, ties to urlkey — so identical content
    crawled from many urls is fetched once. One uniform shuffle on the
    digest; the filters push into the index scan."""
    out = captures.where(
        F.col("error").isNull()
        & (F.col("status") == 200)
        & F.coalesce(F.col("mime").startswith("text/html"), F.lit(True))
    )
    # r7 de-skew (guide §2.5): was a row_number window over digest —
    # every capture of a hot digest (a boilerplate page crawled from
    # millions of urls) landed on one task with no map-side reduction.
    # min_by partial-aggregates: each map partition forwards ONE
    # earliest-(ts, urlkey) candidate per digest, so the shuffle
    # carries at most #map_tasks rows per digest. Same
    # earliest-capture-wins result.
    return (
        out.groupBy("digest")
        .agg(
            F.min_by(
                F.struct(*out.columns),
                F.struct(F.col("ts"), F.col("urlkey")),
            ).alias("_row")
        )
        .select("_row.*")
    )
