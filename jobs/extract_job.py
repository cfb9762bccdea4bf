"""spark-submit entry point for the extraction pipeline.

Usage (cluster):
    zip -r pipeline.zip content_extractor_spark/
    spark-submit --py-files pipeline.zip jobs/extract_job.py \
        --input  <iceberg table or parquet path of documents(doc_id, spans, ...)> \
        --output <output root: spans_out/ ledger/ [entries_next/]> \
        --profiles <dir of *.json/*.conf page profiles> \
        --mode all|new|existing --now 2021-07-01T00:00:00Z \
        --buckets 1024 --run-id run-2021-07-01

The job is resumable: re-submitting with the same --output continues
from the completed-bucket ledger (failed/straggler buckets only).

Configuration is ENV-FIRST with CLI fallback, mirroring the reference's
deployment interface (Config.fromEnv, Config.scala:186-242; CLI via
ArgsParser.scala:16-173). Reference-named variables are honored where
the concept carries over:

    INPUT_TABLE                   --input
    OUTPUT_PATH                   --output
    PAGE_PROFILE_DIRECTORY_PATH   --profiles   (Config.scala:65)
    RE_ANALYSIS_INTERVAL          --reanalysis-hours, in hours
                                                (Config.scala:66)
    TARGET_DATE_TIME_PATTERN      date output pattern (Config.scala:61)
    TARGET_TIME_ZONE              date output zone (Config.scala:62)
    EXTRACT_MODE / EXTRACT_NOW / EXTRACT_BUCKETS / EXTRACT_RUN_ID /
    ENTRIES_TABLE                 --mode / --now / --buckets /
                                  --run-id / --entries

Scale guidance (north rule):
  * --buckets ≈ 2-4× total executor cores; buckets are both the resume
    unit and the skew spread (pmod(xxhash64(doc_id))) — hot hosts from
    a Zipfian distribution even out automatically.
  * documents at 10^12 rows: store Iceberg, partitioned by
    days(crawl_ts) + bucket(1024, doc_id); the mode filters (S2/S3)
    then prune partitions server-side.
  * AQE is on by default from session.get_spark(); skew-join splitting
    covers the dedup window's rare hot hashes (empty-content pages).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _env(name: str, cast=str):
    raw = os.environ.get(name)
    if raw is None or raw == "":
        return None
    return cast(raw)


def resolve_config(argv=None, env=None):
    """Env-first, CLI-fallback parameter resolution (Config.fromEnv
    order, Config.scala:186-242: env wins when set, CLI and defaults
    fill the rest)."""
    if env is not None:  # test hook
        real, os.environ = os.environ, env  # type: ignore[assignment]
    try:
        p = argparse.ArgumentParser(description=__doc__)
        p.add_argument("--input", default=None)
        p.add_argument("--output", default=None)
        p.add_argument("--profiles", default=None,
                       help="profile dir (*.json/*.conf)")
        p.add_argument("--mode", default="all",
                       choices=["all", "new", "existing"])
        p.add_argument("--now", default="2021-07-01T00:00:00Z",
                       help="clock parameter (never wall-clock: determinism)")
        p.add_argument("--reanalysis-hours", type=int, default=48)
        p.add_argument("--buckets", type=int, default=256)
        p.add_argument("--run-id", default="run-0")
        p.add_argument("--entries", default=None,
                       help="existing entries table/path for dup-disable + ETag skip")
        p.add_argument("--target-pattern", default="yyyy-MM-dd'T'HH:mm:ssXXX")
        p.add_argument("--target-zone", default="UTC")
        p.add_argument("--print-merge-sql", action="store_true",
                       help="dry run: print the exact entries MERGE the "
                            "catalog path would execute, then exit "
                            "(requires --entries; no data is read or "
                            "written)")
        args = p.parse_args(argv)

        def take(attr: str, var: str, cast=str) -> None:
            # explicit None check: a SET env var always wins, including
            # falsy-but-valid values like RE_ANALYSIS_INTERVAL=0
            try:
                v = _env(var, cast)
            except ValueError:
                p.error(f"env {var} is not a valid {cast.__name__}")
            if v is not None:
                setattr(args, attr, v)

        take("input", "INPUT_TABLE")
        take("output", "OUTPUT_PATH")
        take("profiles", "PAGE_PROFILE_DIRECTORY_PATH")
        take("mode", "EXTRACT_MODE")
        take("now", "EXTRACT_NOW")
        take("reanalysis_hours", "RE_ANALYSIS_INTERVAL", int)
        take("buckets", "EXTRACT_BUCKETS", int)
        take("run_id", "EXTRACT_RUN_ID")
        take("entries", "ENTRIES_TABLE")
        take("target_pattern", "TARGET_DATE_TIME_PATTERN")
        take("target_zone", "TARGET_TIME_ZONE")
        if args.mode not in ("all", "new", "existing"):
            p.error(f"invalid mode '{args.mode}' (all|new|existing)")
        if args.print_merge_sql:
            if not args.entries:
                p.error("--print-merge-sql requires --entries")
            return args  # dry run needs no input/output/profiles
        missing = [k for k in ("input", "output", "profiles")
                   if not getattr(args, k)]
        if missing:
            p.error(
                "missing required parameters (flag or env): "
                + ", ".join(f"--{m}" for m in missing)
            )
        return args
    finally:
        if env is not None:
            os.environ = real  # type: ignore[assignment]


def main(argv=None):
    args = resolve_config(argv)

    from pyspark.sql import SparkSession

    from content_extractor_spark.kernel.profiles import load_profiles
    from content_extractor_spark.operators.scans import etag_unchanged_skip
    from content_extractor_spark.pipeline import PipelineConfig, run_extraction
    from content_extractor_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"content-extract-{args.run_id}")
    if args.print_merge_sql:
        # dry run: exercise the live MERGE path (view registration +
        # source-expression analysis against the canonical planned
        # schema) and print the exact SQL; nothing is read or written
        from content_extractor_spark.sources.io import (
            PLANNED_DDL,
            entry_merge_dry_run,
        )

        planned = spark.createDataFrame([], PLANNED_DDL)
        print(entry_merge_dry_run(
            spark, args.entries, planned,
            clock=args.now,
            reanalysis_interval_hours=args.reanalysis_hours,
        ))
        if not preexisting:
            spark.stop()
        return 0
    docs = (
        spark.read.table(args.input)
        if "/" not in args.input
        else spark.read.parquet(args.input)
    )
    profiles = load_profiles(args.profiles)
    existing = None
    if args.entries:
        existing = (
            spark.read.table(args.entries)
            if "/" not in args.entries
            else spark.read.parquet(args.entries)
        )
        docs = etag_unchanged_skip(docs, existing)

    summary = run_extraction(
        spark, docs, profiles, args.output,
        PipelineConfig(
            num_buckets=args.buckets, mode=args.mode, now_iso=args.now,
            reanalysis_interval_hours=args.reanalysis_hours, run_id=args.run_id,
            target_date_pattern=args.target_pattern,
            target_zone=args.target_zone,
        ),
        existing_entries=existing,
    )
    print(json.dumps(summary))
    if not preexisting:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
