"""End-to-end extraction pipeline with checkpointed resume.

Dataflow (SURVEY §3.2 Spark equivalent):

    documents ──filter(P5,P1, phase mode)──►
      ──[resume: drop buckets already in the ledger]──►
      ──mapInArrow(extract, broadcast profiles)──►
      ──window dedup on content_hash (A2)──►
      spans_out sink (run totals observed on the write) ──► ledger commit
      ──[optional: change detection vs existing entries (A3-A6)]──►
      entries_next sink (action counts observed on the write)

Scale notes (north rule):
  * extraction itself is shuffle-free: scan splits are sized by
    spark.sql.files.maxPartitionBytes and the UDF is map-only;
  * the only shuffles are the dedup window (content_hash ~unique →
    uniform) and the resume bucket assignment (pmod(xxhash64(doc_id)))
    which doubles as explicit skew neutralization: hot hosts spread
    evenly over buckets regardless of the Zipfian host distribution;
  * resume: work is partitioned into `num_buckets` deterministic
    buckets; each bucket commits its output (one parquet dir per
    bucket), then a ledger row. A re-run skips the ledgered buckets and
    only processes missing ones — lineage preserved, no dup/loss. The
    ledger and spans_out are read back by their declared schemas, so no
    job runs to infer a schema from parquet footers.
  * run totals: docs parsed, spans emitted, status counts and
    duplicates (mirrors the reference's timing/err logging,
    Analyzer.scala:228-253, ExtractionSupervisor.scala:399-404) ride
    the spans_out write as an `Observation` — no second pass over the
    output. Every job is labelled with its stage (job description).
  * driver cost: the hot expressions (scan filters, bucket, span
    assembly, totals, change detection) are built as SQL text, one
    Py4J round trip each, with only code constants and ints
    interpolated; caller values stay literals.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, IntegerType, StructField, StructType

from .kernel.profiles import ProfileConfig
from .operators.changes import plan_actions
from .operators.dedup import mark_duplicates
from .operators.extract import EXTRACT_SCHEMA, derive_spans_col, extract_entries
from .operators.scans import scannable_documents
from .sources.io import apply_entry_actions, read_prior


@dataclass
class PipelineConfig:
    num_buckets: int = 64
    mode: str = "all"  # all | new | existing
    now_iso: str = "2021-07-01T00:00:00Z"
    reanalysis_interval_hours: int = 48
    run_id: str = "run-0"
    # reference TARGET_DATE_TIME_PATTERN / TARGET_TIME_ZONE
    # (Config.scala:61-62, defaults :74-75)
    target_date_pattern: str = "yyyy-MM-dd'T'HH:mm:ssXXX"
    target_zone: str = "UTC"


# the pipeline's own outputs, read back by these declared schemas
SPANS_OUT_SCHEMA = StructType(EXTRACT_SCHEMA.fields + [
    StructField("bucket", IntegerType()),
    StructField("disabled", BooleanType()),
    StructField("n_spans", IntegerType()),
])
LEDGER_DDL = "bucket int, status string, run_id string"


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    """Deterministic work bucket; also the resume + skew-spread unit."""
    return df.withColumn(
        "bucket", F.expr(f"CAST(pmod(xxhash64(doc_id), {int(num_buckets)}) AS INT)")
    )


def _in_buckets(buckets: List[int]) -> str:
    """SQL predicate: `bucket` is one of the given ints."""
    return f"bucket IN ({', '.join(str(int(b)) for b in buckets)})"


def completed_buckets(spark: SparkSession, ledger_path: str) -> List[int]:
    """Buckets committed in the ledger ([] when there is no ledger)."""
    ledger = read_prior(spark, ledger_path, LEDGER_DDL)
    if ledger is None:
        return []
    done = ledger.where("status = 'done'").select("bucket").distinct()
    return sorted(r["bucket"] for r in done.collect())


@contextmanager
def _stage(spark: SparkSession, name: str):
    """Label the jobs submitted inside with their pipeline stage, then
    give the caller's job description back."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"run_extraction: {name}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def _sum0(cond: str) -> str:
    """SQL count of rows where `cond` holds; 0 (not NULL) over no rows."""
    return f"coalesce(sum(CAST({cond} AS BIGINT)), 0)"


_TOTALS_SQL = [
    "count(1) AS docs_parsed",
    f"{_sum0('n_spans')} AS spans_emitted",
    *(f"{_sum0(f'status = {s!r}')} AS {k}" for k, s in (
        ("ok", "ok"), ("profile_miss", "profile_miss"),
        ("no_title", "no_title"), ("errors", "error"))),
    f"{_sum0('disabled')} AS disabled_dups",
]


def _totals() -> list:
    """Run totals over spans_out rows, as aggregates for observe/agg."""
    return [F.expr(e) for e in _TOTALS_SQL]


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    profiles: Dict[str, ProfileConfig],
    output_path: str,
    cfg: Optional[PipelineConfig] = None,
    existing_entries: Optional[DataFrame] = None,
) -> dict:
    """Run the full pipeline; returns summary metrics (a plain dict).

    The totals cover every ledgered bucket of the output: this run's,
    observed on its write, plus on resume those committed before.

    Writes:
      {output_path}/spans_out/     extracted spans (partitioned by bucket)
      {output_path}/ledger/        completed-bucket ledger
      {output_path}/entries_next/  next entries table (existing_entries given)
    """
    cfg = cfg or PipelineConfig()
    t0 = time.monotonic()
    docs = scannable_documents(
        documents, cfg.mode, cfg.now_iso, cfg.reanalysis_interval_hours
    )
    docs = with_bucket(docs, cfg.num_buckets)

    ledger_path = os.path.join(output_path, "ledger")
    spans_path = os.path.join(output_path, "spans_out")
    with _stage(spark, "resume state"):
        done = completed_buckets(spark, ledger_path)
        prior = read_prior(spark, spans_path, SPANS_OUT_SCHEMA) if done else None
    dedup_baseline, prior_totals = existing_entries, {}
    if done:
        docs = docs.where(f"NOT {_in_buckets(done)}")
    if prior is not None:
        # only ledgered buckets count: an unledgered one is re-done now
        prior = prior.where(_in_buckets(done))
        with _stage(spark, "resume totals"):
            prior_totals = prior.agg(*_totals()).first().asDict()
        # dedup also against rows committed by PRIOR runs of this
        # output: hashes already on disk disable this run's copies
        prior = prior.select("content_hash", "disabled")
        dedup_baseline = (
            prior
            if existing_entries is None
            else existing_entries.select("content_hash", "disabled").unionByName(prior)
        )

    # Extraction is map-only over scan splits: no shuffle of raw HTML.
    # derive_spans=False: the spans array is a full duplicate of
    # title/summary/content/tags, and the pipeline has two exchanges
    # ahead (dedup window on content_hash, bucket repartition for the
    # partitioned write) — assembling it only AFTER the last exchange
    # roughly halves the bytes both shuffles carry (guide §2.3/§8);
    # the assembly itself is a pure codegen projection either way.
    extracted = extract_entries(
        docs, profiles,
        target_pattern=cfg.target_date_pattern, target_zone=cfg.target_zone,
        derive_spans=False,
    )
    # re-derive the bucket on the compact output, shuffle THAT (not the
    # input) for the partitioned write; the dedup window adds its own
    # content_hash shuffle.
    deduped = mark_duplicates(with_bucket(extracted, cfg.num_buckets), dedup_baseline)
    # span assembly AFTER the last exchange: the repartition below is
    # the final shuffle, so the heavy derived column never crosses the
    # network. The run totals are observed on the rows as written.
    totals = Observation("run_totals")
    out = (
        deduped.repartition(cfg.num_buckets, "bucket")
        .withColumn("spans", derive_spans_col())
        .withColumn("n_spans", F.expr("CAST(size(coalesce(spans, array())) AS INT)"))
        # written column order identical to the pre-r7 layout
        .selectExpr(*SPANS_OUT_SCHEMA.fieldNames())
        .observe(totals, *_totals(), F.expr("collect_set(bucket) AS buckets"))
    )
    with _stage(spark, "extract, dedup and write spans_out"):
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(spans_path)
        )
    run = totals.get
    buckets = run.pop("buckets")
    summary = {k: v + prior_totals.get(k, 0) for k, v in run.items()}

    # commit ledger rows for the buckets written in this run, built
    # JVM-side from the observed set (no Python worker, no re-scan)
    if buckets:
        with _stage(spark, "ledger commit"):
            (
                spark.range(cfg.num_buckets, numPartitions=1)
                .selectExpr("CAST(id AS INT) AS bucket", "'done' AS status")
                .where(_in_buckets(buckets))
                .withColumn("run_id", F.lit(cfg.run_id))
                .write.mode("append").parquet(ledger_path)
            )

    # change detection + entries upsert (A3-A6 + S7): when an existing
    # entries table is supplied, plan create/update/skip per url and
    # write the next entries-table state; the action counts ride that
    # write. The write has just made spans_out, so it is read without
    # an existence check (zero rows read as an empty frame).
    if existing_entries is not None:
        with _stage(spark, "entries_next"):
            spans = spark.read.schema(SPANS_OUT_SCHEMA).parquet(spans_path)
            actions = Observation("entry_actions")
            apply_entry_actions(
                existing_entries,
                plan_actions(spans.where("status = 'ok'"), existing_entries),
                clock=cfg.now_iso,
                reanalysis_interval_hours=cfg.reanalysis_interval_hours,
                actions=actions,
            ).write.mode("overwrite").parquet(os.path.join(output_path, "entries_next"))
            summary["actions"] = {a: n for a, n in actions.get.items() if n}

    summary["wall_sec"] = time.monotonic() - t0
    summary["resumed_buckets"] = len(done)
    return summary
