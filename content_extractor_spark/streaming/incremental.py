"""Incremental extraction as a Structured Streaming job.

The reference's re-analysis loop (phase 2, SURVEY §2.5 O6) is a batch
predicate in our engine; for continuously-arriving documents the same
extraction stage runs under Structured Streaming instead:

    readStream(file source over the documents table/landing dir)
      → scan filters (P1/P5)
      → mapInArrow extraction (same kernel, same broadcast profiles)
      → writeStream parquet sink, checkpointed

Checkpointing gives exactly-once file-source progress tracking — the
streaming analog of the batch pipeline's bucket ledger. The extraction
operator is reused verbatim: mapInArrow works identically on streaming
DataFrames (stateless map).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.profiles import ProfileConfig
from ..operators.extract import extract_entries
from ..operators.scans import file_ending_exclusion, url_is_valid
from ..synth import DOCUMENTS_DDL


def streaming_extract(
    spark: SparkSession,
    input_path: str,
    profiles: Dict[str, ProfileConfig],
    schema_ddl: str = DOCUMENTS_DDL,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """documents landing dir -> streaming DataFrame of extracted entries."""
    reader = (
        spark.readStream.schema(schema_ddl)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs = reader.load(input_path)
    docs = docs.filter(url_is_valid()).filter(file_ending_exclusion())
    return extract_entries(docs, profiles)


def run_available_now(
    extracted: DataFrame, output_path: str, checkpoint_path: str
) -> None:
    """Drain everything currently available, then stop (batch-like run
    with streaming checkpoint semantics — resumable by re-invoking)."""
    q = (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def run_upsert_stream(
    extracted: DataFrame,
    entries_ref: str,
    checkpoint_path: str,
    clock: str = "1970-01-01T00:00:00Z",
    reanalysis_interval_hours: int = 48,
) -> None:
    """Stream extracted entries INTO the entries table via the S7 MERGE
    dispatcher (foreachBatch): each micro-batch plans create/update/skip
    against the current table state and upserts — Iceberg `MERGE INTO`
    when available, parquet rewrite otherwise. Checkpointing makes the
    whole incremental loop resumable; foreachBatch executes batches
    serially, which is the streaming analog of the reference's
    single-mutator write serialization (O8, Mutator.scala).
    """
    from ..operators.changes import plan_actions
    from ..operators.dedup import mark_duplicates
    from ..sources.io import read_prior, upsert_entries

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ok = batch_df.where(F.col("status") == "ok")  # same gate as pipeline.py
        if ok.isEmpty():
            return
        existing = read_prior(spark, entries_ref)
        if existing is not None:
            planned = plan_actions(mark_duplicates(ok, existing), existing)
        else:
            empty = spark.createDataFrame(
                [],
                "entry_id string, url_id string, title string, "
                "summary string, content string, date string, "
                "tags array<string>, etag string, image_url string, "
                "content_hash long, disabled boolean",
            )
            planned = plan_actions(mark_duplicates(ok), empty)
        upsert_entries(
            spark, entries_ref, planned, clock, reanalysis_interval_hours
        )

    q = (
        extracted.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("update")
        .start()
    )
    q.awaitTermination()
