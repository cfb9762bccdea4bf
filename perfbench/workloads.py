"""The workloads: inputs, the timed call, output checks, layer split.

Each workload times one call of ``pipeline.run_extraction`` and checks
what it returns and what it wrote against values derived from the seed.
The per-layer split of a call is read afterwards from Spark's status
stores (see statusstore.py).

- ``crawl_fresh``: news-weight pages into a fresh output. The kernel and
  the mapInArrow stage dominate; content hashes are unique, so the dedup
  window does little.
- ``recrawl_dupes``: light pages, ~30% soft-404s sharing three content
  hashes, and an existing-entries table. The dedup window, change
  detection, the entries write and the metrics read-back dominate while
  the kernel does little, so a kernel-only gain should read flat here.
"""

from __future__ import annotations

import os
import random
from typing import Dict, List

import inputs as gen
from statusstore import Execution, Job, Stage, StatusStore, union_seconds

SAMPLE_ROWS = 24
#: docs in each workload's input; the warm-up slice is WARMUP_DOCS
N_DOCS = 1500
WARMUP_DOCS = 48


def _compare_rows(rows: Dict[str, dict], refs: Dict[str, dict]) -> List[str]:
    """Spark output rows vs the in-process kernel reference."""
    errs = []
    for doc_id, ref in refs.items():
        row = rows.get(doc_id)
        if row is None:
            errs.append(f"{doc_id}: missing from output")
            continue
        if row["status"] != ref["status"]:
            errs.append(f"{doc_id}: status {row['status']} != {ref['status']}")
            continue
        entry = ref["entry"]
        if entry is None:
            if row["spans"] is not None:
                errs.append(f"{doc_id}: spans on a row without entry")
            continue
        want = {
            "title": entry.title, "summary": entry.summary,
            "content": entry.content, "date": entry.date,
            "tags": entry.tags, "image_url": entry.image_url,
            "content_hash": entry.content_hash(),
        }
        for k, v in want.items():
            got = list(row[k]) if k == "tags" and row[k] is not None else row[k]
            if got != v:
                errs.append(f"{doc_id}: {k} {got!r} != {v!r}")
        spans = [s.asDict() for s in row["spans"] or []]
        if spans != ref["spans"]:
            errs.append(f"{doc_id}: spans differ from entry_to_spans")
    return errs


def _sample(pages, seed: int):
    rng = random.Random(seed ^ 0xC0FFEE)
    return rng.sample(pages, min(SAMPLE_ROWS, len(pages)))


def _check_counts(summary: dict, expected: dict, keys) -> List[str]:
    return [
        f"{k}: got {summary.get(k)!r}, seed expects {expected[k]!r}"
        for k in keys if summary.get(k) != expected[k]
    ]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def task_skew(store: StatusStore, stage: Stage) -> float:
    """Slowest task over the median task, in one stage."""
    secs = sorted(t["seconds"] for t in store.task_stats(stage))
    if not secs:
        return 0.0
    med = secs[len(secs) // 2]
    return secs[-1] / med if med > 0 else 0.0


class Workload:
    """``pipeline.run_extraction`` over a generated documents table;
    with ``recrawl`` also over an existing-entries table."""

    def __init__(self, recrawl: bool):
        self.recrawl = recrawl

    def generate(self, seed: int, work: str, profiles, n: int) -> gen.Inputs:
        if self.recrawl:
            return gen.recrawl_dupes(seed, work, n, profiles)
        return gen.crawl_fresh(seed, work, n)

    def run(self, spark, inp: gen.Inputs, profiles, out: str) -> dict:
        from content_extractor_spark.pipeline import (
            PipelineConfig,
            run_extraction,
        )

        docs = spark.read.parquet(inp.docs_path)
        existing = (spark.read.parquet(inp.entries_path)
                    if inp.entries_path else None)
        # jobs/extract_job.py sizes buckets at 2-4x the executor cores
        buckets = 4 * spark.sparkContext.defaultParallelism
        return run_extraction(
            spark, docs, profiles, out,
            PipelineConfig(num_buckets=buckets, run_id="bench", now_iso=gen.NOW_ISO),
            existing_entries=existing,
        )

    def check_summary(self, s: dict, inp: gen.Inputs) -> List[str]:
        keys = ["docs_parsed", "ok", "no_title", "profile_miss", "errors",
                "spans_emitted", "disabled_dups"]
        errs = _check_counts(s, inp.expected, keys)
        if s.get("resumed_buckets") != 0:
            errs.append(f"resumed_buckets {s.get('resumed_buckets')} on a fresh output")
        if self.recrawl and s.get("actions") != inp.expected["actions"]:
            errs.append(f"actions {s.get('actions')} != {inp.expected['actions']}")
        return errs

    def check_output(self, spark, inp: gen.Inputs, profiles, out: str,
                     seed: int) -> List[str]:
        from pyspark.sql import functions as F

        kept = [p for p in inp.pages if gen.status_of(p) is not None]
        sample = _sample(kept, seed)
        refs = {p.doc_id: gen.reference_row(p, profiles) for p in sample}
        rows = {
            r["doc_id"]: r.asDict() for r in
            spark.read.parquet(os.path.join(out, "spans_out"))
            .where(F.col("doc_id").isin(list(refs))).collect()
        }
        errs = _compare_rows(rows, refs)
        if self.recrawl:
            n = spark.read.parquet(os.path.join(out, "entries_next")).count()
            if n != inp.expected["entries_next"]:
                errs.append(f"entries_next rows {n} != {inp.expected['entries_next']}")
        return errs

    def roles(self, execs) -> Dict[int, str]:
        out = {}
        for e in execs:
            if "entries_next" in e.plan:
                out[e.execution_id] = "apply"
            elif "MapInArrow" in e.plan and "spans_out" in e.plan:
                out[e.execution_id] = "main"
            elif "_e_url_id" in e.plan:
                out[e.execution_id] = "changes"
        return out


WORKLOADS = {
    "crawl_fresh": Workload(recrawl=False),
    "recrawl_dupes": Workload(recrawl=True),
}


# -- per-layer split of one call, from the status stores ----------------------


def _sum_stage(stages, attr) -> float:
    return float(sum(getattr(s, attr) for s in stages))


def layer_split(store: StatusStore, wl: Workload, jobs: List[Job],
                execs: List[Execution], stages: Dict[int, Stage],
                wall_s: float, summary: dict) -> Dict[str, float]:
    """Per-layer numbers for one call, from the jobs and SQL executions
    it submitted.

    Jobs are grouped by the SQL execution that ran them (the main write
    of spans_out, the change-detection collect, the entries_next write)
    and, inside the main write, by the operators their stages ran:
    MapInArrow (extract), the final WriteFiles (write), the rest (dedup).
    Jobs outside those executions are the prelude (before the main write:
    schema reads) or the read-back (after it: the metrics table and the
    ledger). ``trace.named_s`` is every group plus driver time: it exceeds
    the call's wall where groups ran at the same time."""
    role_of_exec = wl.roles(execs)
    ran = {sid: stages[sid] for j in jobs for sid in j.stage_ids
           if sid in stages and stages[sid].status == "COMPLETE"}

    def job_stages(js):
        return [ran[s] for j in js for s in j.stage_ids if s in ran]

    def span(js) -> float:
        return union_seconds((j.submit_ms, j.end_ms) for j in js)

    def writes(st: Stage) -> bool:
        return st.runs("WriteFiles") or st.runs("Execute InsertInto")

    main_start = min((e.submit_ms for e in execs
                      if role_of_exec.get(e.execution_id) == "main"),
                     default=max((j.end_ms for j in jobs), default=0))
    groups: Dict[str, list] = {}
    for j in jobs:
        role = role_of_exec.get(j.execution_id)
        if role == "main":
            js = job_stages([j])
            role = ("extract" if any(s.runs("MapInArrow") for s in js)
                    else "write" if any(writes(s) for s in js) else "dedup")
        elif role is None:
            role = "prelude" if j.submit_ms < main_start else "readback"
        groups.setdefault(role, []).append(j)

    all_stages = list(ran.values())
    driver_s = wall_s - span(jobs)
    m: Dict[str, float] = {
        "pipeline.jobs": float(len(jobs)),
        "pipeline.extract_job_s": span(groups.get("extract", [])),
        "dedup.s": span(groups.get("dedup", [])),
        "pipeline.write_s": span(groups.get("write", [])),
        "pipeline.readback_s": span(groups.get("readback", [])),
        "pipeline.prelude_s": span(groups.get("prelude", [])),
        "changes.s": span(groups.get("changes", [])),
        "io.apply_entry_actions_s": span(groups.get("apply", [])),
        "pipeline.driver_s": driver_s,
        "pipeline.shuffle_write_bytes": _sum_stage(all_stages, "shuffle_write_bytes"),
        "changes.shuffle_bytes": _sum_stage(
            job_stages(groups.get("changes", [])), "shuffle_write_bytes"),
        "executor.run_s": _sum_stage(all_stages, "run_ms") / 1e3,
        "executor.cpu_s": _sum_stage(all_stages, "cpu_ns") / 1e9,
        "executor.gc_s": _sum_stage(all_stages, "gc_ms") / 1e3,
    }
    m["trace.named_s"] = driver_s + sum(span(js) for js in groups.values())

    tasks = [t for s in job_stages(groups.get("write", [])) if writes(s)
             for t in store.task_stats(s)]
    if tasks:
        m["pipeline.write_empty_task_ratio"] = (
            sum(1 for t in tasks if t["records_written"] == 0) / len(tasks))

    extract = [s for s in job_stages(groups.get("extract", []))
               if s.runs("MapInArrow")]
    if extract:
        m["extract.stage_s"] = extract[0].seconds
        m["extract.tasks"] = float(extract[0].num_tasks)
        m["extract.task_max_over_median"] = task_skew(store, extract[0])
    for e in execs:
        if role_of_exec.get(e.execution_id) == "main":
            m["extract.python_s"] = e.metric("MapInArrow", "time to run Python workers")
            m["extract.arrow_bytes_in"] = e.metric(
                "MapInArrow", "data sent to Python workers")
            m["extract.arrow_bytes_out"] = e.metric(
                "MapInArrow", "data returned from Python workers")

    window = [s for s in job_stages(groups.get("dedup", [])) if s.runs("Window")]
    if window:
        m["dedup.shuffle_bytes"] = _sum_stage(window, "shuffle_read_bytes")
        m["dedup.task_max_over_median"] = max(task_skew(store, s) for s in window)

    docs = summary["docs_parsed"]
    m["extract.ok_ratio"] = summary["ok"] / docs if docs else 0.0
    return m
