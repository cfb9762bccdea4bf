"""Extraction benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 10 --trace 0

Run from the repository root. A closed loop with one client: one job at
a time on ``local[nproc]``, in a fresh Spark session per process, with
the production session defaults of ``session.get_spark`` (no bench-side
split or shuffle settings). Inputs are generated from ``--seed`` under
``.perfbench_work/``; every timed call's summary, and a seeded sample of
its output rows, are checked against values derived from the seed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
timed loop with three traced calls taking turns with the timed ones.
Afterwards the Spark jobs and stages of every call (read from Spark's
status stores) become spans under the call, and the run prints the
per-layer metrics of the median traced call, plus single-core kernel
timings and a scan probe. Spans go to ``.perfbench_runs/``, where every
run also leaves one JSON profile record, so later changes can be
compared against it.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``; the exit code is 1 when any output check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_CYCLES = 3
MIN_CALLS = 3
TRACED_CALLS = 3
#: kernel timings: docs in the seeded batch, seconds each timing repeats to
KERNEL_BATCH = 64
KERNEL_MIN_S = 0.2
#: seconds between memory samples; reading the JVM's PSS takes ~12 ms
RSS_PERIOD_S = 0.5
#: seconds the JVM and its workers get to end before they are killed
STOP_TIMEOUT_S = 30
#: driver heap. The inputs need well under 1 GB, and a heap the warm-up
#: fills keeps peak memory steady from run to run; a 2 GB heap kept growing
#: at the JVM's own pace through the timed calls (peak spread 10-19%)
DRIVER_MEM = "1g"

END_TO_END = {
    "wall_s": "s", "docs_per_s": "1/s", "setup_s": "s",
    "peak_rss_mb": "MB", "success_ratio": "ratio", "out_bytes_per_doc": "B",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "session.cold_setup_s": "s",
    "scans.s": "s", "scans.bytes_read": "B", "scans.selectivity": "ratio",
    "kernel.analyze_us_per_doc": "us", "kernel.parse_us_per_doc": "us",
    "kernel.select_us_per_doc": "us", "kernel.dates_us_per_doc": "us",
    "kernel.hash_us_per_doc": "us",
    "extract.stage_s": "s", "extract.python_s": "s",
    "extract.arrow_bytes_in": "B", "extract.arrow_bytes_out": "B",
    "extract.tasks": "count", "extract.task_max_over_median": "ratio",
    "extract.ok_ratio": "ratio",
    "dedup.s": "s", "dedup.shuffle_bytes": "B",
    "dedup.task_max_over_median": "ratio",
    "changes.s": "s", "changes.shuffle_bytes": "B",
    "io.apply_entry_actions_s": "s",
    "pipeline.jobs": "count", "pipeline.extract_job_s": "s",
    "pipeline.write_s": "s", "pipeline.write_empty_task_ratio": "ratio",
    "pipeline.readback_s": "s", "pipeline.shuffle_write_bytes": "B",
    "pipeline.prelude_s": "s", "pipeline.driver_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "trace_overhead_s": "s", "trace.accounted_over_wall": "ratio",
}
#: the named layers must explain a traced call's wall this well
ACCOUNTED_TOLERANCE = 0.10


# -- host ---------------------------------------------------------------------


def host_block() -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return {
        "nproc": os.cpu_count(), "ram_gb": round(mem_kb / 2 ** 20, 1),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "loadavg_before": os.getloadavg(),
    }


def cpu_jiffies() -> list:
    """Host-wide user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_shares(before: list, after: list) -> dict:
    """Where the host's CPU time went between two cpu_jiffies() reads."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {name: round(x / total, 4) for name, x in zip(
        ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), d)}


# -- memory of the driver JVM and its Python workers ---------------------------


def started_pids() -> list:
    """Every process this benchmark started: the driver JVM and the
    Python workers under it."""
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(pid))
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_kb(pids) -> int:
    """Summed proportional set size: pages the forked Python workers
    share count once, split between them."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # the process ended while we looked
    return total


def _start_time(pid: int):
    """The start time of a live process (so a reused pid is not taken for
    it), or None once it has ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def wait_ended(procs: dict, timeout: float) -> list:
    """Wait until every process of ``procs`` (pid -> start time) has
    ended; returns the pids still running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p, st in procs.items() if st and _start_time(p) == st]
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def stop_all(spark) -> None:
    """Stop Spark, then the Py4J gateway JVM that ``spark.stop()`` leaves
    running, and wait until the JVM and every Python worker under it have
    ended, killing what is still there after STOP_TIMEOUT_S."""
    from pyspark import SparkContext

    if spark is not None:
        with contextlib.suppress(Exception):
            spark.stop()
    procs = {p: _start_time(p) for p in started_pids()}
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin reaches end of file
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # workers outlive the JVM as orphans, no longer our children
    for pid in wait_ended(procs, STOP_TIMEOUT_S):
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    left = wait_ended(procs, STOP_TIMEOUT_S)
    if left:
        raise RuntimeError(f"processes {left} did not end")


class MemorySampler:
    """Peak of the summed PSS of the started processes, sampled every
    RSS_PERIOD_S on a thread while the ``with`` block runs."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, pss_kb(started_pids()))

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# -- spans of the traced call --------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) around the benchmark's
    own calls into the program; written out once, at the end. Records
    nothing when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    def add(self, name: str, start: float, end: float, parent, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), None,
                       self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()


# -- session -------------------------------------------------------------------


def start_spark(work: str, nproc: int):
    from content_extractor_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{nproc}]",
        extra_conf={
            "spark.driver.host": "127.0.0.1",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def golden_errors(spark) -> list:
    """The reference boilerplate-strip goldens through extract_entries."""
    from content_extractor_spark.kernel.css import select_first
    from content_extractor_spark.kernel.dom import parse
    from content_extractor_spark.kernel.profiles import profile_from_dict
    from content_extractor_spark.kernel.spans import html_to_spans
    from content_extractor_spark.operators.extract import extract_entries
    from content_extractor_spark.synth import DOCUMENTS_DDL

    fixdir = os.path.join(ROOT, "tests", "fixtures", "content")
    with open(os.path.join(fixdir, "cases.json"), encoding="utf-8") as fh:
        cases = json.load(fh)

    def read(name):
        with open(os.path.join(fixdir, name), encoding="utf-8") as fh:
            return fh.read()

    rows, profiles, want = [], {}, {}
    for name, case in cases.items():
        host = f"{name.lower()}.example"
        rows.append({
            "doc_id": name, "spans": html_to_spans(read(case["raw_file"]), chunks=3),
            "host": host, "url": f"https://{host}/article", "url_id": name,
            "last_crawl": "1970-01-01T00:00:00Z", "etag": None,
        })
        profiles[host] = profile_from_dict({"profile": {
            "hostname": f"https://{host}",
            "pageTypes": [{"name": "article", "selectors": {
                "title": "h1, h2, h3, b, p",
                "content": {"selector": case["content_selector"],
                            "excludeSelectors": case["exclude_selectors"]},
            }}],
        }})
        expected_doc = parse(read(case["expected_file"] or case["raw_file"]))
        want[name] = select_first(expected_doc, case["content_selector"]).text()
    df = spark.createDataFrame(rows, DOCUMENTS_DDL)
    got = {r["doc_id"]: r for r in extract_entries(df, profiles).collect()}
    errs = []
    for name, text in want.items():
        row = got.get(name)
        if row is None or row["status"] != "ok" or row["content"] != text:
            errs.append(f"golden {name}: content differs from the reference")
    return errs


# -- in-process kernel timings -------------------------------------------------


def _per_doc_us(fn, items) -> float:
    """Single-core µs per item of fn over items, repeated to KERNEL_MIN_S."""
    n, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        n += len(items)
        dt = time.perf_counter() - t0
        if dt >= KERNEL_MIN_S:
            return dt / n * 1e6


def kernel_layers(pages, profiles, seed: int) -> dict:
    import random

    from content_extractor_spark.kernel import analyzer, css, dom
    from content_extractor_spark.kernel.scala_hash import content_hash

    import inputs as gen

    pool = [p for p in pages if p.host in profiles and p.kind == "article"]
    batch = random.Random(seed ^ 0xBA7C).sample(pool, min(KERNEL_BATCH, len(pool)))
    if not batch:
        return {}
    selectors = [
        analyzer.get_selectors(p.url, dom.parse(p.html), profiles[p.host])[0]
        for p in batch
    ]
    parsed = [dom.parse(p.html) for p in batch]
    entries = [gen.reference_row(p, profiles)["entry"] for p in batch]

    def select_all(i):
        s = selectors[i]
        for q in (s.title, s.summary, s.content.selector, s.tags,
                  s.date.selector if s.date else None,
                  s.image.selector if s.image else None):
            if q:
                css.select(parsed[i], q)

    idx = list(range(len(batch)))
    return {
        "kernel.analyze_us_per_doc": _per_doc_us(
            lambda p: analyzer.analyze(p.url, p.html, profiles[p.host], None,
                                       gen.DATE_PATTERN, gen.DATE_ZONE), batch),
        "kernel.parse_us_per_doc": _per_doc_us(lambda p: dom.parse(p.html), batch),
        "kernel.select_us_per_doc": _per_doc_us(select_all, idx),
        "kernel.dates_us_per_doc": _per_doc_us(
            lambda i: analyzer.extract_date(parsed[i], selectors[i].date,
                                            gen.DATE_PATTERN, gen.DATE_ZONE), idx),
        "kernel.hash_us_per_doc": _per_doc_us(
            lambda e: content_hash(e.title, e.summary, e.content, e.date), entries),
    }


def scan_layers(spark, store, docs_path: str) -> dict:
    """scannable_documents over the input, into a noop sink."""
    from content_extractor_spark.operators.scans import scannable_documents

    t0 = time.time()
    scannable_documents(spark.read.parquet(docs_path)).write.format(
        "noop").mode("overwrite").save()
    wall = time.time() - t0
    store.drain()
    execs = store.executions(since_ms=int(t0 * 1000) - 1)
    scan = sum(e.metric("Scan parquet", "number of output rows") for e in execs)
    kept = sum(e.metric("Filter", "number of output rows") for e in execs)
    return {
        "scans.s": wall,
        "scans.bytes_read": sum(e.metric("Scan parquet", "size of files read")
                                for e in execs),
        "scans.selectivity": kept / scan if scan else 0.0,
    }


def window_errors(jobs, windows, sql) -> list:
    """Every job submitted while the calls ran fell inside exactly one
    call and finished; every job of an SQL execution fell in the call
    that submitted the execution; and every call ran as many jobs and SQL
    executions."""
    errs = []
    owners = Counter(j.job_id for js in windows.values() for j in js)
    for j in jobs:
        if owners[j.job_id] != 1:
            errs.append(f"job {j.job_id} fell in {owners[j.job_id]} calls")
        if j.status != "SUCCEEDED":
            errs.append(f"job {j.job_id} ended {j.status}")
    counts = set()
    for (lo, hi), js in windows.items():
        mine = [jids for submit, jids in sql.values() if lo <= submit <= hi]
        missed = {jid for jids in mine for jid in jids} - {j.job_id for j in js}
        if missed:
            errs.append(f"SQL jobs {sorted(missed)} fell outside their call")
        counts.add((len(js), len(mine)))
    if len(counts) != 1:
        errs.append(f"calls ran unlike (jobs, SQL executions): {sorted(counts)}")
    return errs


def walk_calls(store, tracer, wl, calls: list, traced: list):
    """Read the Spark jobs of every call span in ``calls`` from the status
    stores, add them as child spans, and check that no job was left out
    of a call or counted in two. The median ``traced`` call also gets its
    stages as spans and its SQL metrics. Returns that call's layer split
    and wall, the seconds the walk took, and any failed checks."""
    from workloads import layer_split

    walk = time.perf_counter()
    store.drain()

    # each call's window in epoch ms, as the status stores time events
    bounds = {c: (int(tracer.spans[c]["start"] * 1000) - 1,
                  int(tracer.spans[c]["end"] * 1000) + 1) for c in calls}
    since, until = bounds[calls[0]][0], bounds[calls[-1]][1]
    jobs = [j for j in store.jobs(since) if j.submit_ms <= until]
    sql = {e: v for e, v in store.sql_jobs(since).items() if v[0] <= until}
    windows = {(lo, hi): [j for j in jobs if lo <= j.submit_ms <= hi]
               for lo, hi in bounds.values()}
    errors = window_errors(jobs, windows, sql)

    wall, median_call, summary = sorted(traced, key=lambda t: t[0])[len(traced) // 2]
    lo, hi = bounds[median_call]
    stages = store.stages(s for j in windows[lo, hi] for s in j.stage_ids)
    execs = store.executions(lo, hi)
    for call in calls:
        for j in windows[bounds[call]]:
            jid = tracer.add(f"spark.job.{j.job_id}", j.submit_ms / 1e3,
                             j.end_ms / 1e3, call, callsite=j.name,
                             sql_execution=j.execution_id)
            for sid in j.stage_ids if call == median_call else ():
                st = stages.get(sid)
                if st is not None and st.submit_ms is not None:
                    tracer.add(f"spark.stage.{sid}", st.submit_ms / 1e3,
                               (st.end_ms or st.submit_ms) / 1e3, jid, **vars(st))
    tracer.spans[median_call]["sql"] = [
        {"id": e.execution_id, "description": e.description, "jobs": e.job_ids,
         "metrics": {f"{op}/{n}": v for (op, n), v in e.metrics.items() if v}}
        for e in execs
    ]
    split = layer_split(store, wl, windows[lo, hi], execs, stages, wall, summary)
    return split, wall, time.perf_counter() - walk, errors


# -- the run -------------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM from outside unwinds through the clean-up below, like an error
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [ROOT, HERE]
    # the program and its workers import from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from workloads import N_DOCS, WARMUP_DOCS, WORKLOADS, dir_bytes

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]

    host = host_block()
    nproc = host["nproc"]
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file inside the checkout: Python's, and the JVMs'
    # (hsperfdata would go to /tmp whatever java.io.tmpdir says)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    spark = None
    errors: list = []
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace, "host": host,
                    "driver_mem": os.environ["SPARK_DRIVER_MEM"]}
    tracer = Tracer(enabled=bool(args.trace))
    spans_json = None
    try:
        import inputs as gen
        from content_extractor_spark.kernel.profiles import load_profiles

        profile_dir = os.path.join(work, "profiles")
        gen.write_profiles(profile_dir)
        ref_profiles = load_profiles(profile_dir)
        inp = wl.generate(args.seed, os.path.join(work, "input"), ref_profiles, N_DOCS)
        warm = wl.generate(args.seed + 1, os.path.join(work, "warm"), ref_profiles,
                           WARMUP_DOCS)

        # set-up: session, profiles, one warm-up call on a small slice.
        # spark.stop() keeps the Py4J gateway JVM, so only the first cycle
        # launches a JVM; the median is a warm-JVM set-up
        setups, starts, warmups = [], [], []
        for cycle in range(SETUP_CYCLES):
            if spark is not None:
                spark.stop()
            out = os.path.join(work, "out-warm")
            shutil.rmtree(out, ignore_errors=True)
            with tracer.span("setup", cycle=cycle):
                t0 = time.perf_counter()
                with tracer.span("session.get_spark"):
                    spark = start_spark(work, nproc)
                t1 = time.perf_counter()
                with tracer.span("kernel.profiles.load_profiles"):
                    profiles = load_profiles(profile_dir)
                with tracer.span("pipeline.run_extraction", slice=len(warm.pages)):
                    summary = wl.run(spark, warm, profiles, out)
                t2 = time.perf_counter()
            errors += [f"warm-up: {e}" for e in wl.check_summary(summary, warm)]
            starts.append(t1 - t0)
            warmups.append(t2 - t1)
            setups.append(t2 - t0)
        spark.sparkContext.setLogLevel("ERROR")
        host["java"] = spark._jvm.System.getProperty("java.version")  # noqa: SLF001
        errors += golden_errors(spark)

        from statusstore import StatusStore

        store = StatusStore(spark)
        walls, attempted, failed_calls, failed_docs = [], 0, 0, 0
        calls, traced = [], []  # span ids of every call; traced calls
        out = os.path.join(work, "out")

        def call(traced_call: bool):
            shutil.rmtree(out, ignore_errors=True)
            with tracer.span("pipeline.run_extraction", docs=inp.n_docs,
                             traced=traced_call) as sid:
                t0 = time.perf_counter()
                summary = wl.run(spark, inp, profiles, out)
                wall = time.perf_counter() - t0
            calls.append(sid)
            return wall, sid, summary

        # one untimed full-size call: the code paths of the full input
        # warm up before timing starts
        summary = wl.run(spark, inp, profiles, out)
        errors += [f"untimed call: {e}" for e in wl.check_summary(summary, inp)]
        begin, jiffies = time.perf_counter(), cpu_jiffies()
        # closed loop, one call at a time; no call starts that would
        # typically end past --seconds
        with MemorySampler() as memory:
            while attempted < MIN_CALLS or (
                    time.perf_counter() - begin + median(walls) <= args.seconds):
                attempted += 1
                try:
                    wall, _sid, summary = call(False)
                except Exception as exc:  # a failed run counts, then ends the loop
                    failed_calls += 1
                    failed_docs += inp.n_docs
                    errors.append(f"call {attempted}: {type(exc).__name__}: {exc}")
                    break
                walls.append(wall)
                bad = wl.check_summary(summary, inp)
                if bad:
                    failed_calls += 1
                    failed_docs += inp.n_docs
                    errors += [f"call {attempted}: {e}" for e in bad]
                else:
                    failed_docs += summary["errors"]
                if args.trace and len(traced) < TRACED_CALLS:
                    # the traced calls take turns with the timed ones, so
                    # both sets see the same JIT warmth and host load
                    traced.append(call(True))
                    errors += [f"traced call: {e}"
                               for e in wl.check_summary(traced[-1][2], inp)]
        if summary is not None and not failed_calls:
            errors += wl.check_output(spark, inp, ref_profiles, out, args.seed)

        wall_s = median(walls)
        docs = summary["docs_parsed"] if summary else 0
        host["cpu_during_calls"] = cpu_shares(jiffies, cpu_jiffies())
        record.update(walls=walls, setups=setups, summary=summary,
                      peak_pss_kb=memory.peak_kb)
        metrics = {
            "wall_s": wall_s,
            "docs_per_s": docs / wall_s if wall_s else 0.0,
            "setup_s": median(setups),
            "peak_rss_mb": memory.peak_kb / 1024.0,
            "success_ratio": 1.0 - failed_docs / (inp.n_docs * attempted),
            "out_bytes_per_doc": dir_bytes(out) / docs if docs else 0.0,
        }
        units = END_TO_END

        if args.trace:
            layers = {k: 0.0 for k in PER_LAYER}
            layers["session.start_s"] = median(starts)
            layers["session.warmup_s"] = median(warmups)
            layers["session.cold_setup_s"] = setups[0]
            with tracer.span("operators.scans.scannable_documents"):
                layers.update(scan_layers(spark, store, inp.docs_path))
            with tracer.span("kernel"):
                layers.update(kernel_layers(inp.pages, ref_profiles, args.seed))

            split, traced_wall, walk_s, bad = walk_calls(store, tracer, wl, calls,
                                                         traced)
            errors += bad
            layers.update(split)
            # what tracing costs: reading the status stores, building the
            # spans and serialising them
            t0 = time.perf_counter()
            spans_json = json.dumps(tracer.spans, indent=1, default=str)
            layers["trace_overhead_s"] = walk_s + time.perf_counter() - t0
            # the traced call's named layers plus driver time, against the
            # median wall of the timed calls it took turns with
            named = layers.pop("trace.named_s")
            layers["trace.accounted_over_wall"] = named / wall_s
            # The gate holds the split to its own call's wall instead: on a
            # shared host the median of three traced calls can miss that of
            # the timed ones by 7%. window_errors has already failed any job
            # left out of every call or counted in two; this fails layers
            # counted over the same time
            record["named_over_call_wall"] = ratio = named / traced_wall
            if args.workload == "crawl_fresh" and abs(ratio - 1.0) > ACCOUNTED_TOLERANCE:
                errors.append(f"layer split accounts for {ratio:.3f} of its call's wall")
            record["layers"] = layers
            record["end_to_end"] = metrics
            metrics, units = layers, PER_LAYER
    except Exception as exc:  # reported as a failed run, never as a result
        import traceback

        traceback.print_exc()
        errors.append(f"{type(exc).__name__}: {exc}")
        metrics, units, attempted, failed_calls = {}, {}, 1, 1
    finally:
        try:
            stop_all(spark)
        except Exception as exc:  # a process left running fails the run
            errors.append(f"{type(exc).__name__}: {exc}")
            metrics = {}
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    record["errors"] = errors
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(runs, f"{stem}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if tracer.spans:
        with open(os.path.join(runs, f"{stem}-spans.json"), "w") as fh:
            fh.write(spans_json or json.dumps(tracer.spans, indent=1, default=str))
    for e in errors[:50]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    if not metrics:
        return 2
    print("host", json.dumps(host, default=str))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed_calls,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
