#!/usr/bin/env python3
"""Benchmark of the two production jobs, ``jobs/extract.py`` and
``jobs/segment_scans.py``, run through their public ``main()``.

    python3 perfbench/run.py --workload extract_fresh --seed 1 \\
        --seconds 2 --trace 0
    python3 perfbench/run.py --steadiness 5 --seconds 2   # two sets of 5

Run from the repository root. One run:

1. launches the Spark JVM (timed) and builds or loads the seeded inputs
   (``.bench_cache/inputs``); a build that needed a Spark context is
   followed by a fresh JVM, so that set-up starts cold;
2. sets up three times — a new Spark context via ``build_session`` plus
   one cold job pass each — and keeps the third context;
3. runs job passes on it for ``--seconds`` (whole passes);
4. with ``--trace 1``, restarts the context with Spark's event log on,
   repeats the timed passes, reduces the log per SQL node and replays a
   sample of the rows through the public stage functions in-process.

Times are job time (``Stopwatch``): wall time less the share the
hypervisor stole from this machine's CPUs. Every pass's output is checked
(``checks.py``). The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics without
``--trace``, per-layer metrics with it).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import pickle
import random
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:7.2f}] {msg}", file=sys.stderr,
          flush=True)
NPROC = len(os.sched_getaffinity(0))
# The committed key set must exceed the broadcast limit, as it does at the
# job's production scale (millions of keys against the 10 MB default);
# the limit is scaled down with the benchmark's committed set.
BROADCAST_LIMIT = 64 * 1024
SETUPS = 3

# (native pages, long pages). extract_resume reads its seed's
# RESUME_TODO pages plus the committed RESUME_BASE: 90% already done.
FRESH_PAGES = (800, 8)
RESUME_TODO = (500, 5)
RESUME_BASE = (4500, 45)


def _spark_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout; load at most ``nproc`` task slots."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in /tmp, from the launcher JVM or the driver JVM
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # the heap build_session asks for; it takes effect only when the
        # JVM is launched, which the benchmark does before build_session
        "--driver-memory " + os.environ.get("NHAO_DRIVER_MEM", "8g"),
        f"--conf spark.sql.autoBroadcastJoinThreshold={BROADCAST_LIMIT}",
        f"--conf spark.sql.adaptive.autoBroadcastJoinThreshold="
        f"{BROADCAST_LIMIT}",
        "--conf " + shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(CACHE, 'warehouse')}"),
        f"--driver-java-options '{jvm_opts} -Dderby.system.home={tmp}'",
        "pyspark-shell"])


def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the machine's CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Job time: wall time less the share of it during which the
    hypervisor ran other guests on this machine's CPUs while they had work
    (``steal`` in ``/proc/stat``). On a shared host that share changes
    from minute to minute and slows whole runs together; it is not the
    program's cost. Whatever the program does costs CPU time or waiting,
    and still counts in full."""

    def __init__(self):
        self.t0, self.c0 = time.perf_counter(), _cpu_ticks()
        self.wall = self.steal_share = self.seconds = 0.0

    def stop(self) -> float:
        """Job time since the start, in seconds."""
        self.wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.c0, _cpu_ticks()))
        self.steal_share = steal / (busy + steal) if busy + steal > 0 else 0.0
        self.seconds = self.wall * (1.0 - self.steal_share)
        return self.seconds


class Jvm:
    """One Spark JVM for the whole run; Spark contexts come and go on it."""

    def __init__(self):
        self.master = f"local[{NPROC}]"

    def launch(self) -> float:
        from pyspark import SparkContext
        sw = Stopwatch()
        SparkContext._ensure_initialized()
        return sw.stop()

    @property
    def pid(self) -> int:
        from pyspark import SparkContext
        return SparkContext._gateway.proc.pid

    def session(self, event_log: str | None = None):
        """``build_session`` on a new context; the event-log settings go in
        as JVM system properties, which every new SparkConf reads."""
        from pyspark import SparkContext

        from norsk_historisk_avis_ocr_spark.plans import build_session
        props = SparkContext._jvm.java.lang.System
        keys = ("spark.eventLog.enabled", "spark.eventLog.dir",
                "spark.eventLog.compress")
        if event_log:
            for k, v in zip(keys, ("true", "file://" + event_log, "false")):
                props.setProperty(k, v)
        else:
            for k in keys:
                props.clearProperty(k)
        return build_session("perfbench", master=self.master)

    def stop_session(self) -> None:
        from pyspark.sql import SparkSession
        s = SparkSession.getActiveSession()
        if s is not None:
            s.stop()

    def shutdown(self) -> None:
        from pyspark import SparkContext
        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class WorkerRss(threading.Thread):
    """Polls the peak RSS (``VmHWM``) of the JVM's Python workers — the
    processes the worker daemon forks, i.e. the JVM's grandchildren."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.jvm_pid, self.interval = jvm_pid, interval
        self.peak_kb: dict[int, int] = {}
        self._halt = threading.Event()

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for e in os.listdir("/proc"):
            if not e.isdigit():
                continue
            try:
                with open(f"/proc/{e}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(e))
        return kids

    def sample(self) -> None:
        kids = self._children()
        for daemon in kids.get(self.jvm_pid, []):
            for pid in kids.get(daemon, []):
                try:
                    with open(f"/proc/{pid}/status") as f:
                        m = re.search(r"VmHWM:\s+(\d+)", f.read())
                except OSError:
                    continue
                if m:
                    self.peak_kb[pid] = max(self.peak_kb.get(pid, 0),
                                            int(m.group(1)))

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop_mb(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return max(self.peak_kb.values(), default=0) / 1024


class Pass:
    """One job pass: its timing, sizes and every check it failed."""

    def __init__(self, clock: Stopwatch, window: tuple[float, float],
                 finished: int):
        self.seconds, self.window, self.finished = (clock.seconds, window,
                                                    finished)
        self.wall, self.steal_share = clock.wall, clock.steal_share
        self.committed = 0
        self.out_bytes = 0
        self.dir = ""
        self.bad_rows: set = set()   # not committed, quarantined or wrong
        self.problems: list[str] = []
        self.pass_failed = False     # a check over the whole pass failed

    def fail_row(self, key: str, why: str) -> None:
        self.bad_rows.add(key)
        self.problems.append(f"{key}: {why}")

    def fail_pass(self, why: str) -> None:
        self.pass_failed = True
        self.problems.append(why)

    @property
    def failed(self) -> int:
        """Rows failed; a failed pass-level check fails every row."""
        return self.finished if self.pass_failed else len(self.bad_rows)


def _parquet_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def _rows(files: list[str], columns=None) -> list[dict]:
    import pyarrow.parquet as pq
    if not files:
        return []
    return pq.ParquetDataset(files).read(columns=columns).to_pylist()


def _timed_main(main, argv) -> tuple[Stopwatch, tuple[float, float], str]:
    buf = io.StringIO()
    w0 = time.time()
    sw = Stopwatch()
    with contextlib.redirect_stdout(buf):
        main(argv)
    sw.stop()
    return sw, (w0, time.time()), buf.getvalue()


class ExtractWorkload:
    """``jobs/extract.py`` with results, lineage and quarantine paths."""

    def __init__(self, name: str, seed: int):
        self.name, self.seed = name, seed
        self.resume = name == "extract_resume"
        self.size = RESUME_TODO if self.resume else FRESH_PAGES
        self.key = f"{name}-s{seed}-{self.size[0]}+{self.size[1]}"
        self.base_key = "extract_resume-base-%d+%d" % RESUME_BASE
        self._verdicts: dict = {}

    def prepare(self, cache, spark_factory) -> None:
        from perfbench import inputs
        base_dir = None
        if self.resume:
            base_dir = cache.dir(self.base_key)
            if not cache.ready(self.base_key):
                cache.fresh(self.base_key)
                cache.save_meta(self.base_key, inputs.build_committed_base(
                    base_dir, *RESUME_BASE, NPROC, spark_factory))
        if not cache.ready(self.key):
            cache.save_meta(self.key, inputs.build_extract_inputs(
                cache.fresh(self.key), self.seed, *self.size, NPROC,
                base_dir))
        self.committed_dir = base_dir and os.path.join(base_dir, "committed")
        self.dir = cache.dir(self.key)
        self.meta = cache.load_meta(self.key)
        with open(os.path.join(self.dir, "expected.pkl"), "rb") as f:
            exp = pickle.load(f)
        self.all_urls, self.expected = exp["all_urls"], exp["todo"]
        self.committed_urls = exp["committed_urls"]
        self.html_sums: list[tuple[Pass, dict]] = []
        self.pages = os.path.join(self.dir, "pages")
        from norsk_historisk_avis_ocr_spark.stages.normalize import (
            default_normalizer,
        )
        self.table, self.preserve = default_normalizer().to_table()

    @property
    def rows(self) -> int:
        return self.meta["rows"]

    def run_pass(self, pdir: str) -> Pass:
        from jobs.extract import main
        out, lin, quar = (os.path.join(pdir, p)
                          for p in ("results", "lineage", "quarantine"))
        base = set()
        if self.resume:  # the same committed state before every pass
            os.makedirs(out)
            for f in os.listdir(self.committed_dir):
                os.link(os.path.join(self.committed_dir, f),
                        os.path.join(out, f))
            base = set(_parquet_files(out))
        sw, window, stdout = _timed_main(main, [
            "--input", self.pages, "--output", out, "--lineage", lin,
            "--quarantine", quar])
        new = [f for f in _parquet_files(out) if f not in base]
        p = Pass(sw, window, self.rows)
        p.out_bytes = sum(os.path.getsize(f)
                          for f in new + _parquet_files(lin))
        self._check(p, _rows(new), out, lin, quar, stdout)
        return p

    def _check(self, p: Pass, rows, out, lin, quar, stdout) -> None:
        from perfbench.checks import check_extract_row
        p.committed = len(rows)
        urls = [r["url"] for r in rows]
        for url in set(self.expected) - set(urls):
            p.fail_row(url, "not committed")
        if len(urls) != len(set(urls)) or not set(urls) <= set(self.expected):
            p.fail_pass("committed a url twice or beyond the missing keys")
        if self.resume:
            all_urls = [r["url"] for r in _rows(_parquet_files(out), ["url"])]
            if len(all_urls) != len(set(all_urls)) or \
                    set(all_urls) != set(self.all_urls):
                p.fail_pass("output is not every input url exactly once")
        for r in rows:
            key = (r["url"], hash((r["combined"], r["transcribed"],
                                   r["normalized"], r["final"], r["header"],
                                   tuple(r["columns"]),
                                   tuple(tuple(s.values()) for s in r["spans"]))))
            if key not in self._verdicts:  # identical rows: checked once
                exp = self.expected.get(r["url"])
                self._verdicts[key] = (
                    "not a missing key" if exp is None else
                    check_extract_row(r, exp, self.table, self.preserve))
            if self._verdicts[key] is not None:
                p.fail_row(r["url"], self._verdicts[key])
        for q in _rows(_parquet_files(quar)):
            p.fail_row(q["url"], f"quarantined: {q['quarantine_reason']}")
        lineage = _rows(_parquet_files(lin))
        m = re.search(r"committed (\d+) new", stdout)
        for what, got in (("the job's committed count",
                           int(m.group(1)) if m else None),
                          ("lineage n_urls",
                           sum(r["n_urls"] for r in lineage))):
            if got != len(rows):
                p.fail_pass(f"{what} {got} != {len(rows)} rows committed")
        # compared in finish(), against Spark's count over the input
        self.html_sums.append((p, {
            "lineage bytes_in": sum(r["bytes_in"] for r in lineage),
            "metrics.html_bytes": sum(r["metrics"]["html_bytes"]
                                      for r in rows)}))

    def finish(self, spark) -> None:
        """Html bytes of the rows a pass commits, counted by Spark from the
        input (in the run's warm context, after the timed passes)."""
        from perfbench.inputs import spark_html_bytes
        want = spark_html_bytes(spark, self.pages, self.committed_urls)
        for p, sums in self.html_sums:
            for what, got in sums.items():
                if got != want:
                    p.fail_pass(f"{what} {got} != {want} counted by Spark "
                                "from the input")

    def replay(self, spans, rng) -> tuple[dict, int]:
        from perfbench.trace import replay_extract
        todo = set(self.expected)
        pages = [(r["url"], r["html"]) for r in _rows(
            _parquet_files(self.pages), ["url", "html"]) if r["url"] in todo]
        sample = rng.sample(pages, min(1200, len(pages)))
        return replay_extract(sample, spans), len(todo)


class ScanWorkload:
    """``jobs/segment_scans.py`` over the mixed-codec scan corpus."""

    name = "scan_backfill"

    def __init__(self, seed: int):
        self.seed = seed
        from perfbench.inputs import SCAN_MIX
        self.key = f"scan_backfill-s{seed}-{sum(m[2] for m in SCAN_MIX)}"
        self._verdicts: dict = {}

    def prepare(self, cache, spark_factory) -> None:
        from perfbench import checks, inputs
        if not cache.ready(self.key):
            d = cache.fresh(self.key)
            meta = inputs.build_scan_inputs(
                d, os.path.join(cache.root, "scan-pool"), self.seed, NPROC,
                spark_factory)
            from norsk_historisk_avis_ocr_spark.stages.layout import (
                split_columns_geometry,
            )
            for page in meta["pages"].values():
                src = checks.lossless_source(page)
                page["geometry"] = None if src is None else json.loads(
                    json.dumps(split_columns_geometry(src)))
            cache.save_meta(self.key, meta)
        self.dir = cache.dir(self.key)
        self.meta = cache.load_meta(self.key)
        self.scans = os.path.join(self.dir, "scans")

    @property
    def rows(self) -> int:
        return self.meta["rows"]

    def run_pass(self, pdir: str) -> Pass:
        from jobs.segment_scans import main

        from perfbench.checks import check_geometry_row
        out, lin = os.path.join(pdir, "results"), os.path.join(pdir, "lineage")
        sw, window, stdout = _timed_main(main, [
            "--input", self.scans, "--output", out, "--lineage", lin])
        files = _parquet_files(out)
        p = Pass(sw, window, self.rows)
        p.out_bytes = sum(os.path.getsize(f)
                          for f in files + _parquet_files(lin))
        rows = _rows(files)
        p.committed = len(rows)
        pages = self.meta["pages"]
        ids = [r["page_id"] for r in rows]
        for pid in set(pages) - set(ids):
            p.fail_row(pid, "not committed")
        if len(ids) != len(set(ids)) or not set(ids) <= set(pages):
            p.fail_pass("committed a page twice or an unknown page")
        for r in rows:
            key = (r["page_id"], repr(sorted(r.items())))
            if key not in self._verdicts:  # identical rows: checked once
                page = pages.get(r["page_id"])
                self._verdicts[key] = (
                    "unknown page id" if page is None else
                    check_geometry_row(r, page, page["geometry"]))
            if self._verdicts[key] is not None:
                p.fail_row(r["page_id"], self._verdicts[key])
        lineage = sum(r["n_urls"] for r in _rows(_parquet_files(lin)))
        m = re.search(r"committed (\d+) geometry", stdout)
        for what, got in (("lineage n_urls", lineage),
                          ("the job's committed count",
                           int(m.group(1)) if m else None)):
            if got != len(rows):
                p.fail_pass(f"{what} {got} != {len(rows)} rows committed")
        return p

    def finish(self, spark) -> None:
        pass

    def replay(self, spans, rng) -> tuple[dict, int]:
        from perfbench.trace import replay_scans
        pages = [(r["page_id"], r["png"])
                 for r in _rows(_parquet_files(self.scans))]
        return replay_scans(pages, spans), len(pages)


WORKLOADS = ("extract_fresh", "extract_resume", "scan_backfill")

END_TO_END = {"rows_per_s": "1/s", "setup_s": "s",
              "worker_peak_rss_mb": "MB", "output_bytes_per_row": "B"}


class Runner:
    def __init__(self, workload, seconds: float):
        self.w, self.seconds = workload, seconds
        self.passes: list[Pass] = []
        self.n = 0
        self.run_dir = os.path.join(CACHE, "runs", str(os.getpid()))

    def one_pass(self) -> Pass:
        pdir = os.path.join(self.run_dir, f"pass-{self.n}")
        self.n += 1
        p = self.w.run_pass(pdir)
        p.dir = pdir
        self.passes.append(p)
        log(f"pass {self.n}: {p.seconds:.3f} s ({p.wall:.3f} s wall, "
            f"{100 * p.steal_share:.1f}% stolen), {p.committed} committed")
        if p.problems:
            print(f"check failed on pass {self.n}: " + "; ".join(
                p.problems[:5]), file=sys.stderr)
        shutil.rmtree(pdir, ignore_errors=True)
        return p

    def window(self) -> list[Pass]:
        """Whole passes until ``seconds`` have elapsed."""
        out = []
        t_end = time.perf_counter() + self.seconds
        while not out or time.perf_counter() < t_end:
            out.append(self.one_pass())
        return out


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.inputs import Cache
    w = (ScanWorkload(seed) if workload_name == "scan_backfill"
         else ExtractWorkload(workload_name, seed))
    jvm = Jvm()
    r = Runner(w, seconds)
    try:
        launch_s = jvm.launch()
        made = []   # a Spark context for building inputs, on a cache miss

        def spark_factory():
            if not made:
                made.append(jvm.session())
            return made[0]
        w.prepare(Cache(ROOT), spark_factory)
        if made:  # the build warmed this JVM; set up from a cold one
            jvm.shutdown()
            launch_s = jvm.launch()
        log(f"jvm launch {launch_s:.2f} s; inputs ready")

        starts, colds = [], []
        for k in range(SETUPS):
            sw = Stopwatch()
            spark = jvm.session()
            starts.append(sw.stop())
            log(f"set-up {k + 1}: session {starts[-1]:.2f} s")
            colds.append(r.one_pass().seconds)
            if k < SETUPS - 1:
                jvm.stop_session()
        rss = WorkerRss(jvm.pid)
        rss.start()
        timed = r.window()
        peak_mb = rss.stop_mb()
        log(f"{len(timed)} timed passes; median stolen share "
            f"{100 * statistics.median(p.steal_share for p in timed):.1f}%")
        metrics = {
            "rows_per_s": statistics.median(
                p.finished / p.seconds for p in timed),
            "setup_s": launch_s + statistics.median(
                s + c for s, c in zip(starts, colds)),
            "worker_peak_rss_mb": peak_mb,
            "output_bytes_per_row": statistics.median(
                p.out_bytes / p.committed for p in timed if p.committed),
        }
        units = END_TO_END
        if trace:
            metrics = traced(jvm, r, w, seed, timed, launch_s, starts, colds)
            spark = jvm.session()
            units = LAYER_UNITS
        w.finish(spark)
        return {"correct": not any(p.problems for p in r.passes),
                "attempted": sum(p.finished for p in r.passes),
                "failed": sum(p.failed for p in r.passes),
                "metrics": {k: {"value": v, "unit": units[k]}
                            for k, v in metrics.items()}}
    finally:
        jvm.shutdown()
        shutil.rmtree(r.run_dir, ignore_errors=True)


LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.scan_s": "s", "sources.scan_bytes": "B",
    "resume.done_scan_s": "s", "resume.shuffle_bytes": "B",
    "resume.rows_dropped": "count", "resume.lineage_python_s": "s",
    "resume.lineage_bytes_to_python": "B",
    "udfs.python_init_s": "s", "udfs.python_run_s": "s",
    "udfs.bytes_to_python": "B", "udfs.bytes_from_python": "B",
    "udfs.task_max_s": "s", "udfs.task_median_s": "s",
    "udfs.worker_peak_rss_mb": "MB",
    "raster.python_run_s": "s", "raster.bytes_to_python": "B",
    "raster.task_max_s": "s", "raster.worker_peak_rss_mb": "MB",
    "htmlparse.sections_ms": "ms", "textops.clean_ms": "ms",
    "textops.reflow_ms": "ms", "textops.combine_ms": "ms",
    "textops.spans_ms": "ms", "textops.diff_ms": "ms",
    "normalize.normalize_ms": "ms",
    "png.decode_ms": "ms", "jpeg.decode_ms": "ms", "pdf.decode_ms": "ms",
    "layout.geometry_ms": "ms",
    "sinks.bytes_written": "B", "sinks.files_written": "count",
    "sinks.commit_s": "s", "sinks.lineage_write_s": "s",
    "trace.rows_per_s": "1/s", "trace.overhead_pct": "%",
}


def traced(jvm, r: Runner, w, seed: int, untraced: list, launch_s: float,
           starts, colds) -> dict:
    """Per-layer metrics: medians over the traced passes' per-node figures,
    the stage replay, and the tracing overhead against untraced passes
    run before and after the traced ones (the JVM keeps warming up)."""
    from perfbench.trace import EventLog, Spans, latest_log, pass_layers
    log_dir = os.path.join(CACHE, "eventlog", str(os.getpid()))
    os.makedirs(log_dir, exist_ok=True)
    jvm.stop_session()
    jvm.session(event_log=log_dir)
    rss = WorkerRss(jvm.pid)
    rss.start()
    r.one_pass()  # warm the new context's workers
    timed = r.window()
    peak_mb = rss.stop_mb()
    jvm.stop_session()   # flushes and closes the event log
    jvm.session()
    r.one_pass()
    untraced = untraced + r.window()
    jvm.stop_session()
    events = EventLog(latest_log(log_dir))
    input_path = getattr(w, "pages", None) or w.scans
    per_pass = [pass_layers(events, os.path.join(p.dir, "results"),
                            os.path.join(p.dir, "lineage"), input_path,
                            p.window) for p in timed]
    layer = {k: statistics.median(pp[k] for pp in per_pass)
             for k in per_pass[0] if k != "join"}
    is_scan = isinstance(w, ScanWorkload)
    prefix = "raster." if is_scan else "udfs."
    m = {k: 0.0 for k in LAYER_UNITS}
    for k, v in layer.items():
        if k.startswith("work."):
            name = prefix + k[5:]
            if name in m:
                m[name] = v
        else:
            m[k] = v
    m[prefix + "worker_peak_rss_mb"] = peak_mb
    m["session.start_s"] = launch_s + statistics.median(starts)
    m["session.warmup_s"] = statistics.median(colds)
    spans = Spans()
    replay, udf_rows = w.replay(spans, random.Random(seed))
    m.update(replay)
    out_dir = os.path.join(CACHE, "trace")
    os.makedirs(out_dir, exist_ok=True)
    spans.dump(os.path.join(out_dir, f"{w.name}-s{seed}.spans.jsonl"))
    shutil.rmtree(log_dir, ignore_errors=True)
    traced_rate = statistics.median(p.finished / p.seconds for p in timed)
    plain_rate = statistics.median(p.finished / p.seconds for p in untraced)
    m["trace.rows_per_s"] = traced_rate
    m["trace.overhead_pct"] = 100.0 * (plain_rate - traced_rate) / plain_rate
    # the share of the UDF node's Python run time the replayed spans cover
    run_s = layer["work.python_run_s"]
    replay_s = spans.stage_ms_per_row() * udf_rows / 1e3
    print("trace-summary " + json.dumps({
        "workload": w.name, "seed": seed, "join": per_pass[0]["join"],
        "udf_rows_per_pass": udf_rows, "traced_passes": len(timed),
        "replay_s_per_pass": replay_s, "python_run_s": run_s,
        "replay_share_of_python_run": replay_s / run_s if run_s else None}))
    return m


def steadiness(n_runs: int, seconds: int, workloads) -> None:
    """Two sets of ``n_runs`` runs per workload, each run in its own
    process with its own seed; per metric, each set's median and
    quartiles, the quartile spread as a share of the median, and whether
    the two medians agree within the metric's bound."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    logs = os.path.join(CACHE, "steadiness-logs")
    os.makedirs(logs, exist_ok=True)
    sets = []
    for s in range(2):
        vals: dict = {w: {} for w in workloads}
        for i in range(n_runs):
            seed = 1000 * (s + 1) + i
            for w in workloads:
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--workload", w, "--seed", str(seed), "--seconds",
                     str(seconds), "--trace", "0"],
                    cwd=ROOT, capture_output=True, text=True, timeout=600)
                with open(os.path.join(logs, f"{w}-s{seed}.err"), "w") as f:
                    f.write(out.stderr)
                if out.returncode:
                    raise RuntimeError(f"{w} seed {seed} exited "
                                       f"{out.returncode}:\n{out.stderr[-3000:]}")
                res = json.loads(out.stdout.strip().splitlines()[-1])
                print(f"set {s + 1} seed {seed} {w}: " + json.dumps(res),
                      flush=True)
                for k, v in res["metrics"].items():
                    vals[w].setdefault(k, []).append(v["value"])
                vals[w].setdefault("failed_share", []).append(
                    res["failed"] / res["attempted"])
        sets.append(vals)
    report = {}
    for w in workloads:
        for k, b in bounds.items():
            rows = []
            for vals in sets:
                v = vals[w][k]
                q1, med, q3 = statistics.quantiles(v, n=4)
                rows.append({"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med})
            worse = ((rows[1]["median"] - rows[0]["median"]) / rows[0]["median"]
                     * (1 if b["better"] == "lower" else -1))
            report[f"{w}/{k}"] = {"sets": rows, "bound": b["bound"],
                                  "second_worse_by": worse,
                                  "agree": worse <= b["bound"]}
            print(f"{w:15s} {k:21s} " + "  ".join(
                f"med {r['median']:.4g} q1 {r['q1']:.4g} q3 {r['q3']:.4g} "
                f"spread {r['spread']:.3f}" for r in rows)
                + f"  bound {b['bound']} worse {worse:+.3f} "
                f"{'agree' if worse <= b['bound'] else 'DISAGREE'}")
        fs = [set_[w]["failed_share"] for set_ in sets]
        print(f"{w:15s} failed share set1 {sorted(set(fs[0]))} "
              f"set2 {sorted(set(fs[1]))}")
    os.makedirs(CACHE, exist_ok=True)
    with open(os.path.join(CACHE, "steadiness.json"), "w") as f:
        json.dump({"sets": sets, "report": report}, f, indent=1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steadiness", type=int, metavar="N",
                   help="run two sets of N runs of every workload")
    args = p.parse_args(argv)
    for need in ("jobs/extract.py", "jobs/segment_scans.py",
                 "norsk_historisk_avis_ocr_spark/__init__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing; run from a checkout of "
                  "the repository", file=sys.stderr)
            return 2
    if args.steadiness:
        steadiness(args.steadiness, int(args.seconds),
                   [args.workload] if args.workload else WORKLOADS)
        return 0
    if not args.workload:
        p.error("--workload is required")
    _spark_env()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.exit(main())
