"""spark-submit entry point for the training-data curation funnel.

Composes the library's curation operators into the standard
pretraining-corpus pipeline, one deployable job:

    language ID -> quality score -> [trained linear quality filter,
    behind --ml-quality-weights] -> repetition filter -> Gopher
    format caps (bullet/ellipsis lines) -> exact dedup -> MinHash-LSH
    near-dup clustering -> eval-set decontamination -> normalization
    -> PII scrub -> train/val split -> parquet

Usage (cluster):
    zip -r pipeline.zip content_extractor_spark/
    spark-submit --py-files pipeline.zip jobs/curate_job.py \
        --input  <parquet/iceberg of documents(doc_id, text, source, ...)> \
        --output <output root: curated/ metrics.json> \
        [--benchmark <parquet of eval docs to decontaminate against>] \
        [--langs en,de] [--min-quality 0.5] [--max-dup-frac 0.3] \
        [--minhash-perms 64] [--minhash-bands 16] [--val-pct 5]

Env-first with CLI fallback (CURATE_INPUT / CURATE_OUTPUT /
CURATE_BENCHMARK / CURATE_LANGS / ...), mirroring jobs/extract_job.py.

Design for 10^12 documents:
  * ONE pass assigns every row a priority-ordered `drop_reason`
    (lang > quality > ml_quality > repetition > format > exact_dup >
    near_dup > contaminated); the funnel metrics ride the write action as
    OBSERVATION metrics (`DataFrame.observe`) — zero extra jobs, no
    per-stage count() actions.
  * the map-only stages (language ID, quality, repetition inputs,
    normalization, scrubbing, split) fuse into the scan's whole-stage
    codegen; the only wide shuffles are the exact-dedup digest window,
    the LSH band join, and the CC label propagation — all keyed on
    uniform hashes.
  * exact dedup keeps the FIRST surviving row per content digest:
    the digest window orders early-dropped rows last, so a
    quality-rejected copy never shadows a good one.
  * near-dup clustering runs only on rows that survived the earlier
    stages (no wasted LSH work on rows already gone); the flagged
    frame is persisted across that branch and unpersisted after.
  * deterministic end to end: md5-hash sampling/splits, parameterized
    thresholds, no rand()/wall-clock anywhere — identical output on
    re-run and across cluster sizes.
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
    "input": ("CURATE_INPUT", str),
    "output": ("CURATE_OUTPUT", str),
    "benchmark": ("CURATE_BENCHMARK", str),
    "langs": ("CURATE_LANGS", str),
    "min_quality": ("CURATE_MIN_QUALITY", float),
    "ml_quality_weights": ("CURATE_ML_QUALITY_WEIGHTS", str),
    "ml_min_score": ("CURATE_ML_MIN_SCORE", float),
    "max_dup_frac": ("CURATE_MAX_DUP_FRAC", float),
    "max_bullet_frac": ("CURATE_MAX_BULLET_FRAC", float),
    "max_ellipsis_frac": ("CURATE_MAX_ELLIPSIS_FRAC", float),
    "minhash_perms": ("CURATE_MINHASH_PERMS", int),
    "minhash_bands": ("CURATE_MINHASH_BANDS", int),
    "max_bucket": ("CURATE_MAX_BUCKET", int),
    "decontam_ngram": ("CURATE_DECONTAM_NGRAM", int),
    "val_pct": ("CURATE_VAL_PCT", int),
}


def resolve_config(argv):
    """Env-first, CLI-fallback parameter resolution (same contract as
    jobs/extract_job.py)."""
    from content_extractor_spark.jobconf import require, resolve_env_first

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", default=None)
    p.add_argument("--output", default=None)
    p.add_argument("--benchmark", default=None,
                   help="eval-set path for decontamination (optional)")
    p.add_argument("--langs", default=None,
                   help="comma-separated allow-list; empty = keep all")
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--ml-quality-weights", default=None,
                   help="JSON file {weights: [...], bias: x} enabling "
                        "the trained (hashed bag-of-words linear) "
                        "quality filter stage")
    p.add_argument("--ml-min-score", type=float, default=0.5)
    p.add_argument("--max-dup-frac", type=float, default=0.3,
                   help="max duplicated-3-gram character fraction")
    p.add_argument("--max-bullet-frac", type=float, default=0.9,
                   help="Gopher cap: max fraction of bulleted lines")
    p.add_argument("--max-ellipsis-frac", type=float, default=0.3,
                   help="Gopher cap: max fraction of ellipsis lines")
    p.add_argument("--minhash-perms", type=int, default=64)
    p.add_argument("--minhash-bands", type=int, default=16)
    p.add_argument("--max-bucket", type=int, default=256,
                   help="LSH bucket cap (hot-bucket truncation)")
    p.add_argument("--decontam-ngram", type=int, default=8)
    p.add_argument("--val-pct", type=int, default=5)
    args = resolve_env_first(p, ENV_VARS, argv)
    require(p, args, ("input", "output"))
    return args


DROP_REASONS = (
    "lang", "quality", "ml_quality", "repetition", "format", "exact_dup",
    "near_dup", "contaminated",
)


def flag_documents(docs, cfg, benchmark=None):
    """Assign every row its priority-ordered `drop_reason` (NULL =
    keep). Single linear DAG except the near-dup branch, which runs
    only over rows surviving the earlier stages.

    Returns ``(flagged_df, cached_df)`` — the caller must unpersist
    ``cached_df`` (the pre-near-dup intermediate this function caches)
    after its terminal action."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from content_extractor_spark.operators.components import (
        connected_components,
    )
    from content_extractor_spark.operators.curation import decontaminate
    from content_extractor_spark.operators.dedup_families import (
        minhash_lsh_pairs,
    )
    from content_extractor_spark.operators.skew import spread
    from content_extractor_spark.operators.textstats import (
        line_features,
        linear_quality_score,
        quality_features,
        repetition_features,
        with_detected_language,
    )

    langs = (
        [s.strip() for s in cfg.langs.split(",") if s.strip()]
        if cfg.langs else []
    )
    # optional trained-filter stage: hashed bag-of-words linear scorer
    # with driver-loaded literal weights (map-only; see
    # textstats.linear_quality_score)
    ml = None
    if getattr(cfg, "ml_quality_weights", None):
        with open(cfg.ml_quality_weights) as fh:
            m = json.load(fh)
        ml = (m["weights"], float(m.get("bias", 0.0)))

    # a single-split input (the sf parquet tables, a small re-read
    # batch) would run every map-side funnel stage (language ladder,
    # quality features, ngram explode) on one core
    docs = spread(docs)

    # stacked-projection language ID: same values as detect_language,
    # one tokenize/window eval per row instead of 22/288 (r7 perf)
    df = with_detected_language(docs)
    df = line_features(quality_features(df))
    if ml is not None:
        df = linear_quality_score(df, ml[0], ml[1])
    rep = repetition_features(
        docs.select("doc_id", "text")
    ).select("doc_id", "dup_ngram_char_frac")
    df = df.join(rep, "doc_id")

    early = F.when(
        ~F.col("lang_detected").isin(langs) if langs else F.lit(False),
        F.lit("lang"),
    ).when(
        F.col("q_score") < cfg.min_quality, F.lit("quality")
    )
    if ml is not None:
        early = early.when(
            F.col("ml_q_score") < cfg.ml_min_score, F.lit("ml_quality")
        )
    early = early.when(
        F.col("dup_ngram_char_frac") > cfg.max_dup_frac, F.lit("repetition")
    ).when(
        # Gopher format caps: mostly-bulleted or ellipsis-heavy pages
        # are list/teaser chrome, not prose
        (F.col("bullet_line_frac") > cfg.max_bullet_frac)
        | (F.col("ellipsis_line_frac") > cfg.max_ellipsis_frac),
        F.lit("format"),
    )
    df = df.withColumn("_early", early)

    # exact dedup: first SURVIVING row per digest wins (early-dropped
    # copies sort last, so they never shadow a keepable one)
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(
        F.col("_early").isNotNull().cast("int").asc(), F.col("doc_id").asc()
    )
    df = df.withColumn("_rn", F.row_number().over(w))
    df = df.withColumn(
        "drop_reason",
        F.coalesce(
            F.col("_early"),
            F.when(F.col("_rn") > 1, F.lit("exact_dup")),
        ),
    ).drop("_early", "_rn")

    # near-dup: LSH pairs + CC over the current survivors only.
    # Keep a handle on the EXACT frame that is persisted: df rebinds
    # through the joins below, so unpersisting the returned frame would
    # silently miss this cache and leak it for the session lifetime.
    cached = df.persist()
    df = cached
    surv = df.where(F.col("drop_reason").isNull()).select("doc_id", "text")
    pairs = minhash_lsh_pairs(
        surv, num_perm=cfg.minhash_perms, num_bands=cfg.minhash_bands,
        max_bucket=cfg.max_bucket,
    )
    losers = (
        connected_components(pairs)
        .where(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"))
        .withColumn("_near_dup", F.lit(True))
    )
    df = df.join(losers, "doc_id", "left").withColumn(
        "drop_reason",
        F.coalesce(
            F.col("drop_reason"),
            F.when(F.col("_near_dup"), F.lit("near_dup")),
        ),
    ).drop("_near_dup")

    # decontamination: any shared word-n-gram with the benchmark
    # (broadcast semi join inside the operator) over current survivors
    if benchmark is not None:
        dirty = (
            decontaminate(
                df.where(F.col("drop_reason").isNull())
                .select("doc_id", "text"),
                benchmark.select("text"),
                n=cfg.decontam_ngram,
            )
            .where(F.col("contaminated"))
            .select("doc_id")
            .withColumn("_contam", F.lit(True))
        )
        df = df.join(dirty, "doc_id", "left").withColumn(
            "drop_reason",
            F.coalesce(
                F.col("drop_reason"),
                F.when(F.col("_contam"), F.lit("contaminated")),
            ),
        ).drop("_contam")
    return df, cached


def run_curation(spark, docs, cfg, benchmark=None, out_root=None):
    """Flag -> filter -> normalize -> scrub -> split -> write, with the
    funnel counted as observation metrics on the single write action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from content_extractor_spark.operators.curation import (
        normalize_text,
        pii_scrub,
        train_val_split,
    )

    flagged, cached = flag_documents(docs, cfg, benchmark=benchmark)
    obs = Observation("curation_funnel")
    aggs = [F.count(F.lit(1)).alias("total")] + [
        F.sum((F.col("drop_reason") == r).cast("long")).alias(f"drop_{r}")
        for r in DROP_REASONS
    ]
    observed = flagged.observe(obs, *aggs)
    curated = observed.where(F.col("drop_reason").isNull())
    curated = normalize_text(curated)
    curated = pii_scrub(curated, text_col="text_norm")
    curated = train_val_split(curated, val_pct=cfg.val_pct)
    out_cols = [
        c for c in docs.columns if c not in ("text",)
    ] + ["lang_detected", "q_score", "text_norm", "scrubbed", "split"]
    (
        curated.select(*out_cols)
        .write.mode("overwrite")
        .partitionBy("split")
        .parquet(f"{out_root}/curated")
    )
    # sums over zero rows surface as NULL — normalize so the metrics
    # JSON carries clean zeros (empty input is a no-crash no-op)
    metrics = {k: (v if v is not None else 0) for k, v in obs.get.items()}
    metrics["kept"] = metrics["total"] - sum(
        metrics[f"drop_{r}"] for r in DROP_REASONS
    )
    cached.unpersist()
    return metrics


def main(argv=None):
    cfg = resolve_config(argv)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from content_extractor_spark.session import get_spark

    spark = get_spark(app_name="curate-job")
    docs = spark.read.parquet(cfg.input)
    benchmark = (
        spark.read.parquet(cfg.benchmark) if cfg.benchmark else None
    )
    metrics = run_curation(
        spark, docs, cfg, benchmark=benchmark, out_root=cfg.output
    )
    os.makedirs(cfg.output, exist_ok=True)
    with open(os.path.join(cfg.output, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, sort_keys=True)
    print(json.dumps(metrics, sort_keys=True))


if __name__ == "__main__":
    main()
