"""The extraction operator: Arrow-batched, no per-row Python in Spark.

`extract_entries` is the one non-Catalyst compute step of the whole
pipeline (SURVEY §4): profiles are broadcast once per job, documents
stream through `mapInArrow` in Arrow record batches, each batch is
analyzed with the pure-Python kernel and emitted as a new Arrow batch.
Everything before (filters, profile join) and after (dedup windows,
change joins, writes) is native DataFrame/Catalyst.

Output schema (FIXTURES.md §2 + audit columns): one row per input doc
with the ordered output span sequence, scalar audit columns, status,
content hash and the matched page type.
"""

from __future__ import annotations

from typing import Dict, Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.analyzer import AnalysisResult, RawEntryInformation, analyze
from ..kernel.density import extract_main_content
from ..kernel.profiles import ProfileConfig, normalize_host

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("url", StringType()),
        StructField("url_id", StringType()),
        StructField("host", StringType()),
        StructField("etag", StringType()),
        StructField("status", StringType()),
        StructField("profile_name", StringType()),
        StructField("title", StringType()),
        StructField("summary", StringType()),
        StructField("content", StringType()),
        StructField("date", StringType()),
        StructField("tags", ArrayType(StringType())),
        StructField("image_url", StringType()),
        StructField("content_hash", LongType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
        StructField("n_input_spans", IntegerType()),
        StructField("n_media_spans", IntegerType()),
        StructField("error", StringType()),
    ]
)

_SPAN_ARRAY_DDL = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

# the Python stage's output: no `spans` — the output span sequence is
# DERIVED JVM-side from the scalar entry fields (see derive_spans_col),
# so the Arrow channel never carries the content twice
_NARROW_SCHEMA = StructType(
    [f for f in EXTRACT_SCHEMA.fields if f.name != "spans"]
)
_ARROW_SCHEMA = to_arrow_schema(_NARROW_SCHEMA)


def _density_fallback(html: str) -> "AnalysisResult":
    """Profile-free extraction via DOM text-density heuristics.

    Used when no profile matches (the reference would error the row,
    ExtractionSupervisor.scala:399-404); emitted with its own status
    'ok_density' + profile_name '__density__' so selector-exact and
    heuristic rows are never conflated downstream."""
    try:
        res = extract_main_content(html)
    except Exception:
        res = None
    if not res:
        return AnalysisResult(status="profile_miss", error="no profile; density found no content")
    entry = RawEntryInformation(
        title=res["title"] or "", summary=None, content=res["content"],
        date=None, tags=None, etag=None, image_url=None,
    )
    if not entry.title:
        return AnalysisResult(status="profile_miss", error="no profile; density found no title")
    return AnalysisResult(status="ok_density", entry=entry, page_type="__density__")


def _decode_spans_columnar(arr: pa.Array):
    """(html, n_spans, n_media) per row, straight off the Arrow buffers.

    Avoids materializing a Python dict per span (`to_pylist` on a
    list<struct> column): the flattened child arrays convert to flat
    Python lists once, and per-row slices are assembled with zip. On
    HTML-sized payloads this halves the input-decode cost of the batch.
    """
    values = arr.values
    kinds = values.field("kind").to_pylist()
    texts = values.field("text").to_pylist()
    offs = values.field("offset").to_pylist()
    bounds = arr.offsets.to_pylist()
    valid = arr.is_valid().to_pylist() if arr.null_count else None
    out = []
    for i in range(len(arr)):
        if valid is not None and not valid[i]:
            out.append(("", 0, 0))
            continue
        lo, hi = bounds[i], bounds[i + 1]
        parts = []
        n_media = 0
        for k, t, o in zip(kinds[lo:hi], texts[lo:hi], offs[lo:hi]):
            if k == "text":
                parts.append((o or 0, t or ""))
            elif k == "media":
                n_media += 1
        parts.sort(key=lambda p: p[0])
        out.append(("".join(p[1] for p in parts), hi - lo, n_media))
    return out


def _analyze_batch(
    batch: pa.RecordBatch, profiles: Dict[str, ProfileConfig],
    density_fallback: bool = False,
    target_pattern: str = "yyyy-MM-dd'T'HH:mm:ssXXX",
    target_zone: str = "UTC",
) -> pa.RecordBatch:
    names = batch.schema.names
    cols = {n: batch.column(i) for i, n in enumerate(names)}
    doc_ids = cols["doc_id"].to_pylist()
    decoded = _decode_spans_columnar(cols["spans"])
    hosts = cols.get("host")
    urls = cols.get("url")
    url_ids = cols.get("url_id")
    etags = cols.get("etag")
    hosts = hosts.to_pylist() if hosts is not None else [None] * len(doc_ids)
    urls = urls.to_pylist() if urls is not None else [None] * len(doc_ids)
    url_ids = url_ids.to_pylist() if url_ids is not None else [None] * len(doc_ids)
    etags = etags.to_pylist() if etags is not None else [None] * len(doc_ids)

    out = {name: [] for name in _ARROW_SCHEMA.names}
    containment_memo: dict = {}
    for doc_id, (html, n_in, n_media), host, url, url_id, etag in zip(
        doc_ids, decoded, hosts, urls, url_ids, etags
    ):
        norm = normalize_host(host or "") or normalize_host(url or "")
        profile = profiles.get(norm)
        if profile is None and norm:
            # reference fallback: find the profile whose hostname string
            # CONTAINS the url's host (hostUrl.contains(host),
            # ExtractionSupervisor.scala:367-369). The memo is keyed on
            # the exact match input (the normalized host), so one row
            # can never poison the lookup for another.
            if norm in containment_memo:
                profile = containment_memo[norm]
            else:
                profile = next(
                    (p for k, p in profiles.items() if norm in k), None
                )
                containment_memo[norm] = profile
        if profile is None:
            if density_fallback:
                res = _density_fallback(html)
                res_status, entry, pt_name, err = (
                    res.status, res.entry, res.page_type, res.error,
                )
            else:
                res_status, entry, pt_name, err = (
                    "profile_miss",
                    None,
                    None,
                    f"no profile for host '{host}'",
                )
        else:
            res = analyze(
                url or "", html, profile, etag, target_pattern, target_zone
            )
            res_status, entry, pt_name, err = (
                res.status,
                res.entry,
                res.page_type,
                res.error,
            )
        out["doc_id"].append(doc_id)
        out["url"].append(url)
        out["url_id"].append(url_id)
        out["host"].append(host)
        out["etag"].append(etag)
        out["status"].append(res_status)
        out["profile_name"].append(pt_name)
        out["n_input_spans"].append(n_in)
        out["n_media_spans"].append(n_media)
        out["error"].append(err)
        if entry is not None:
            out["title"].append(entry.title)
            out["summary"].append(entry.summary)
            out["content"].append(entry.content)
            out["date"].append(entry.date)
            out["tags"].append(entry.tags)
            out["image_url"].append(entry.image_url)
            out["content_hash"].append(entry.content_hash())
        else:
            out["title"].append(None)
            out["summary"].append(None)
            out["content"].append(None)
            out["date"].append(None)
            out["tags"].append(None)
            out["image_url"].append(None)
            out["content_hash"].append(None)
    arrays = [
        pa.array(out[f.name], type=f.type) for f in _ARROW_SCHEMA
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=_ARROW_SCHEMA)


def _span_sql(kind: str, text: str, media: str) -> str:
    return f"named_struct('kind', '{kind}', 'text', {text}, 'media_ref', {media})"


_SNULL = "CAST(NULL AS STRING)"
# One SQL expression, so building it is one Py4J round trip (a Column
# tree of the same shape costs a few hundred). Only code constants are
# interpolated.
_SPANS_SQL = f"""
CASE WHEN title IS NOT NULL THEN transform(
  filter(
    concat(
      array(
        CASE WHEN title IS NOT NULL THEN {_span_sql('title', 'title', _SNULL)} END,
        CASE WHEN summary IS NOT NULL THEN {_span_sql('summary', 'summary', _SNULL)} END,
        CASE WHEN content IS NOT NULL THEN {_span_sql('content', 'content', _SNULL)} END,
        CASE WHEN date IS NOT NULL THEN {_span_sql('date', 'date', _SNULL)} END),
      transform(coalesce(tags, CAST(array() AS array<string>)),
                t -> {_span_sql('tag', 't', _SNULL)}),
      array(CASE WHEN image_url IS NOT NULL
            THEN {_span_sql('image', _SNULL, 'image_url')} END)),
    x -> x IS NOT NULL),
  (x, i) -> named_struct('kind', x.kind, 'text', x.text,
                         'media_ref', x.media_ref, 'offset', CAST(i AS INT)))
ELSE CAST(NULL AS {_SPAN_ARRAY_DDL}) END
"""


def derive_spans_col():
    """The ordered output span sequence as a pure Catalyst expression.

    Mirrors kernel.spans.entry_to_spans exactly (title, summary?,
    content?, date?, tag*, image? with consecutive offsets; null for
    rows without an extracted entry) — equivalence is pinned by
    tests/test_operators.py::TestJvmSpanAssembly and the reference
    golden e2e. Runs inside whole-stage codegen; no Python.
    """
    from pyspark.sql import functions as F

    return F.expr(_SPANS_SQL)


#: input columns the Arrow stage actually reads — everything else is
#: pruned before mapInArrow (guide §4.1: Spark cannot see inside the
#: function, so an unpruned opaque stage ships, and reads, every column)
_INPUT_COLS = ("doc_id", "spans", "host", "url", "url_id", "etag")


def extract_entries(
    docs: DataFrame,
    profiles: Dict[str, ProfileConfig],
    density_fallback: bool = False,
    target_pattern: str = "yyyy-MM-dd'T'HH:mm:ssXXX",
    target_zone: str = "UTC",
    derive_spans: bool = True,
) -> DataFrame:
    """documents -> extracted entries via a broadcast + mapInArrow stage.

    `profiles` is normalized-host keyed; it is captured in the UDF
    closure, which Spark ships to executors via its task-broadcast
    mechanism exactly once per stage (equivalent of sc.broadcast for
    our purposes, and profile dicts are small dims by design —
    ExtractionSupervisor.scala:356,447-461).

    ``density_fallback`` is OPT-IN (the reference errors profile-miss
    rows — ExtractionSupervisor.scala:399-404 — so the default stays
    faithful): such rows get profile-free DOM-density extraction
    ('ok_density') instead.
    """
    norm_profiles = {normalize_host(k): v for k, v in profiles.items()}
    # project to the columns the kernel reads: an opaque mapInArrow
    # otherwise ships (and reads from storage) every input column
    pruned = [c for c in _INPUT_COLS if c in docs.columns]
    docs = docs.select(*pruned)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            yield _analyze_batch(
                batch, norm_profiles, density_fallback,
                target_pattern, target_zone,
            )

    out = docs.mapInArrow(run, schema=_NARROW_SCHEMA)
    if not derive_spans:
        # caller defers span assembly until after its own exchanges so
        # the shuffles never carry the assembled duplicate of
        # title/summary/content/tags (guide §2.3: project before the
        # exchange; §8: move heavy bytes once) — see pipeline.run_extraction
        return out
    # span sequence assembled JVM-side (the Python stage already carries
    # every field; shipping the assembled sequence too would double the
    # Arrow traffic for the largest column)
    out = out.withColumn("spans", derive_spans_col())
    return out.select(*[f.name for f in EXTRACT_SCHEMA.fields])
