"""spark-submit entry point: crawl archives in, extracted spans out.

The continuous-crawl composition of the WARC connector and the
extraction stage, resumable at FILE granularity: each run

    list .warc/.warc.gz files -> drop ledger-committed ones
    -> parse records (streaming per-member gzip, one file per task)
    -> documents shape (charset-sniffed decode)
    -> profile extraction (broadcast profiles, one Arrow stage)
    -> append spans parquet  [extraction metrics ride this single
                              write as DataFrame.observe metrics]
    -> commit the file ledger

Usage (cluster):
    zip -r pipeline.zip content_extractor_spark/
    spark-submit --py-files pipeline.zip jobs/warc_extract_job.py \
        --input  <dir of .warc/.warc.gz files, growing over time> \
        --output <output root: spans/ warc_ledger/ metrics.json> \
        --profiles <dir of *.json/*.conf page profiles> \
        [--max-files N]   # bound one run for steady backlog drain

Env-first (WARC_INPUT / WARC_OUTPUT / PAGE_PROFILE_DIRECTORY_PATH /
WARC_MAX_FILES), mirroring the other jobs. Idempotent: a crashed run
re-processes at most its uncommitted batch (the ledger commit is the
atomicity point).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


# {args attribute: (environment variable, cast)}
ENV_VARS = {
    "input": ("WARC_INPUT", str),
    "output": ("WARC_OUTPUT", str),
    "profiles": ("PAGE_PROFILE_DIRECTORY_PATH", str),
    "max_files": ("WARC_MAX_FILES", int),
}


def resolve_config(argv):
    from content_extractor_spark.jobconf import require, resolve_env_first

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", default=None)
    p.add_argument("--output", default=None)
    p.add_argument("--profiles", default=None)
    p.add_argument("--max-files", type=int, default=None)
    args = resolve_env_first(p, ENV_VARS, argv)
    require(p, args, ("input", "output", "profiles"))
    return args


def run_warc_extract(spark, in_dir, out_root, profiles, max_files=None):
    """One incremental batch: uncommitted archives -> spans batch dir +
    ledger commit (exactly-once — orphan batch dirs from a crashed run
    are dropped before re-processing). Returns the run summary dict."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from content_extractor_spark.operators.extract import extract_entries
    from content_extractor_spark.sources.warc import (
        _list_warc_files,
        batch_id,
        commit_file_ledger,
        drop_orphan_batches,
        read_file_ledger,
        read_warc,
        warc_documents,
    )

    ledger_path = f"{out_root}/warc_ledger"
    spans_path = f"{out_root}/spans"
    files = _list_warc_files(spark, in_dir)
    done, committed = read_file_ledger(spark, ledger_path)
    drop_orphan_batches(spark, spans_path, committed)
    todo = [f for f in files if f not in done]
    if max_files is not None:
        todo = todo[:max_files]
    summary = {
        "files_total": len(files), "files_new": len(todo),
        "files_processed": 0, "docs": 0, "ok": 0, "errors": 0,
        "spans_emitted": 0,
    }
    if not todo:
        return summary
    docs = warc_documents(read_warc(spark, todo))
    out = extract_entries(docs, profiles)
    obs = Observation("warc_extract")
    observed = out.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
        F.sum(F.col("status").startswith("error").cast("long")
              ).alias("errors"),
        F.sum(F.size(F.coalesce(F.col("spans"), F.array()))
              ).alias("spans_emitted"),
    )
    bid = batch_id(todo)
    observed.write.mode("overwrite").parquet(
        f"{spans_path}/ingest_batch={bid}"
    )
    commit_file_ledger(spark, ledger_path, todo, bid)
    m = obs.get
    summary.update(
        files_processed=len(todo), docs=m["docs"], ok=m["ok"] or 0,
        errors=m["errors"] or 0, spans_emitted=m["spans_emitted"] or 0,
    )
    return summary


def main(argv=None):
    cfg = resolve_config(argv)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from content_extractor_spark.kernel.profiles import load_profiles
    from content_extractor_spark.session import get_spark

    spark = get_spark(app_name="warc-extract-job")
    profiles = load_profiles(cfg.profiles)
    summary = run_warc_extract(
        spark, cfg.input, cfg.output, profiles, max_files=cfg.max_files
    )
    os.makedirs(cfg.output, exist_ok=True)
    with open(os.path.join(cfg.output, "metrics.json"), "w") as f:
        json.dump(summary, f, indent=2, sort_keys=True)
    print(json.dumps(summary, sort_keys=True))


if __name__ == "__main__":
    main()
