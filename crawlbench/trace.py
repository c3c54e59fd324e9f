"""Tracing from outside the program: superstep clocks, call-site job tags,
Spark event-log folding and the single-threaded page-kernel replay.

Nothing here edits ``suckit_spark``. The traced run wraps, for the length of
one crawl pass, the pyspark actions and the eager public calls the crawl
makes (``CrawlCheckpoint.commit``, ``BloomState.add``, ``fetch_robots_txt``)
in spans. Each span is named after the crawl phase of its call site, and
every Spark job started inside it carries that name as its job description,
so the task metrics in the event log fold onto the same phases.
"""

from __future__ import annotations

import glob
import json
import linecache
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

#: crawl phases, in superstep order
PHASES = ("fetch_write", "cand_dedup", "frontier_defer", "bloom_add",
          "commit", "robots", "live_relay")
PHASE_FIELDS = ("wall_s", "cpu_s", "gc_s", "shuffle_mb", "jobs")

#: (module suffix, rule) for the innermost suckit_spark frame of an action.
#: A rule is a phase name, or a list of (substrings, phase) matched against
#: the call-site line and the one after it.
_CRAWL_LINES = [
    (("store.write", 'select("fetch_url").collect', "isin(urls)"),
     "fetch_write"),
    (("new_urls.localCheckpoint", "seen.localCheckpoint", "anti_join_seen"),
     "cand_dedup"),
    (("frontier.count()", "next_frontier.localCheckpoint"), "frontier_defer"),
    (("set_cookie", "sc_rows"), "live_relay"),
    (("robots", "bases"), "robots"),
]
_MODULE_RULES = {
    "plans/checkpoint.py": "commit",
    "operators/dedup.py": "cand_dedup",
    "operators/cuckoo.py": "cand_dedup",
    "operators/frontier.py": "frontier_defer",
    "operators/robots.py": "robots",
    "operators/live_fetch.py": "fetch_write",
    "plans/crawl.py": _CRAWL_LINES,
}

_DF_ACTIONS = ("count", "collect", "toPandas", "localCheckpoint", "checkpoint",
               "head", "take", "first", "isEmpty", "foreachPartition",
               "toLocalIterator")
_WRITER_ACTIONS = ("parquet", "save", "saveAsTable", "insertInto")


def call_site_phase() -> tuple[str, str]:
    """(phase, "module:line") of the innermost suckit_spark frame on the
    stack; phase "other" when no rule matches, "bench" outside the
    program."""
    frame = sys._getframe(2)
    while frame is not None:
        path = frame.f_code.co_filename.replace(os.sep, "/")
        if "/suckit_spark/" in path:
            rel = path.split("/suckit_spark/", 1)[1]
            site = f"{rel}:{frame.f_lineno}"
            rule = _MODULE_RULES.get(rel)
            if isinstance(rule, str):
                return rule, site
            if rule is not None:
                text = (linecache.getline(path, frame.f_lineno)
                        + linecache.getline(path, frame.f_lineno + 1))
                for needles, phase in rule:
                    if any(n in text for n in needles):
                        return phase, site
            return "other", site
        frame = frame.f_back
    return "bench", "crawlbench"


class StepClock:
    """Superstep start times, taken when the crawl loop calls
    ``frontier.apply_host_budget`` (the first call of every superstep).
    Cheap enough for the untraced run: one clock read per superstep."""

    def __init__(self):
        from suckit_spark.operators import frontier

        self._mod = frontier
        self._orig = frontier.apply_host_budget
        self.starts: list[float] = []

        def timed(*a, **kw):
            self.starts.append(time.time())
            return self._orig(*a, **kw)

        frontier.apply_host_budget = timed

    def walls(self, end: float) -> list[float]:
        """Superstep wall times; the last superstep ends at ``end``."""
        edges = self.starts + [end]
        return [b - a for a, b in zip(edges, edges[1:])]

    def reset(self) -> None:
        self.starts = []

    def close(self) -> None:
        self._mod.apply_host_budget = self._orig


class Tracer:
    """Spans + job tags for one pass; see the module docstring."""

    def __init__(self, spark, tree):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tree = tree
        #: (phase, call site, start, end, CPU seconds)
        self.spans: list[tuple[str, str, float, float, float]] = []
        #: time spent in the tracing wrappers themselves
        self.self_s = 0.0
        self._depth = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None
        self.log_dir: str | None = None

    # -- spans ----------------------------------------------------------
    def _wrap(self, fn, fixed_phase: str | None = None):
        tracer = self

        def wrapped(*a, **kw):
            depth = getattr(tracer._depth, "n", 0)
            if depth:
                # nested inside an outer span: its phase already tags jobs
                return fn(*a, **kw)
            enter = time.perf_counter()
            phase, site = ((fixed_phase, fixed_phase) if fixed_phase
                           else call_site_phase())
            tracer._depth.n = 1
            tracer.sc.setJobDescription(f"{phase}@{site}")
            cpu0, t0 = tracer.tree.cpu_s(), time.time()
            inner = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                back = time.perf_counter()
                t1 = time.time()
                tracer.spans.append((phase, site, t0, t1,
                                     tracer.tree.cpu_s() - cpu0))
                tracer.sc.setJobDescription(None)
                tracer._depth.n = 0
                tracer.self_s += (inner - enter) + (time.perf_counter() - back)

        return wrapped

    def _patch(self, owner, name, phase=None):
        orig = getattr(owner, name)
        self._patched.append((owner, name, orig))
        setattr(owner, name, self._wrap(orig, phase))

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter
        from suckit_spark.operators import dedup, live_fetch
        from suckit_spark.plans.checkpoint import CrawlCheckpoint

        # the concrete class the session hands out (a subclass of the
        # public pyspark.sql.DataFrame that overrides the actions)
        frame_cls = type(self.spark.range(0))
        for name in _DF_ACTIONS:
            self._patch(frame_cls, name)
        for name in _WRITER_ACTIONS:
            self._patch(DataFrameWriter, name)
        self._patch(CrawlCheckpoint, "commit", "commit")
        self._patch(dedup.BloomState, "add", "bloom_add")
        self._patch(live_fetch, "fetch_robots_txt", "robots")
        self.tree.refresh()

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched = []

    # -- event log --------------------------------------------------------
    def start_event_log(self, log_dir: str) -> None:
        """Attach Spark's own event-log writer for this pass only, so the
        untraced pass of the same run pays nothing for it."""
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        os.makedirs(log_dir, exist_ok=True)
        conf = (jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId() + "-traced", jvm.scala.Option.empty(),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf, jsc.hadoopConfiguration())
        self._listener.start()
        jsc.addSparkListener(self._listener)
        self.log_dir = log_dir

    def stop_event_log(self) -> None:
        if self._listener is None:
            return
        jsc = self.sc._jsc.sc()
        # drain the listener bus so every job's events reach the writer
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None

    def jobs(self) -> list[dict]:
        """One record per Spark job in the event log: phase, interval and
        task-metric totals. Detaches the event log first, so every event
        of the traced pass is on disk."""
        self.stop_event_log()
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for path in glob.glob(os.path.join(self.log_dir, "**", "*"),
                              recursive=True):
            if os.path.isdir(path) or "appstatus" in os.path.basename(path):
                continue
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        desc = (ev.get("Properties") or {}).get(
                            "spark.job.description") or "bench@"
                        phase, _, site = desc.partition("@")
                        job = {"phase": phase, "site": site,
                               "t0": ev["Submission Time"] / 1000,
                               "t1": None, "gc_s": 0.0,
                               "shuffle_mb": 0.0, "input_mb": 0.0,
                               "input_rows": 0}
                        jobs[ev["Job ID"]] = job
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, ev["Job ID"])
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["t1"] = (
                                ev["Completion Time"] / 1000)
                    elif kind == "SparkListenerTaskEnd":
                        job = jobs.get(stage_job.get(ev["Stage ID"]))
                        m = ev.get("Task Metrics")
                        if job is None or not m:
                            continue
                        rd, wr = m["Shuffle Read Metrics"], m[
                            "Shuffle Write Metrics"]
                        job["gc_s"] += m["JVM GC Time"] / 1000
                        job["shuffle_mb"] += (
                            rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                            + wr["Shuffle Bytes Written"]) / 2**20
                        job["input_mb"] += m["Input Metrics"]["Bytes Read"] / 2**20
                        job["input_rows"] += m["Input Metrics"]["Records Read"]
        return [j for j in jobs.values() if j["t1"] is not None]


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi) covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def fold_crawl(spans, jobs, steps: list[tuple[float, float]]):
    """Per-superstep phase metrics plus the crawl-level ratios, over the
    superstep intervals ``steps`` (start, end); and the sorted call sites
    of the spans and jobs there that no phase rule matched."""
    n = max(len(steps), 1)
    inside = lambda t: any(a <= t < b for a, b in steps)  # noqa: E731
    in_loop = [j for j in jobs if inside(j["t0"])]
    per = defaultdict(lambda: dict.fromkeys(PHASE_FIELDS, 0.0))
    stray = sorted({site for phase, site, t0, _, _ in spans
                    if phase == "other" and inside(t0)}
                   | {j["site"] for j in in_loop if j["phase"] == "other"})
    for phase, _, t0, t1, cpu in spans:
        if inside(t0):
            per[phase]["wall_s"] += t1 - t0
            per[phase]["cpu_s"] += cpu
    for j in in_loop:
        per[j["phase"]]["gc_s"] += j["gc_s"]
        per[j["phase"]]["shuffle_mb"] += j["shuffle_mb"]
        per[j["phase"]]["jobs"] += 1
    out = {f"{phase}.{field}": per[phase][field] / n
           for phase in PHASES for field in PHASE_FIELDS}
    total = sum(b - a for a, b in steps)
    covered = sum(_covered([(j["t0"], j["t1"]) for j in in_loop], a, b)
                  for a, b in steps)
    out["crawl.driver_s"] = (total - covered) / n
    out["crawl.jobs_per_superstep"] = len(in_loop) / n
    attributed = sum(per[p]["wall_s"] for p in PHASES)
    out["crawl.attributed_share"] = attributed / max(total, 1e-9)
    fetch_jobs = [j for j in in_loop if j["phase"] == "fetch_write"]
    out["corpus.scan_mb"] = sum(j["input_mb"] for j in fetch_jobs)
    out["corpus.input_rows"] = sum(j["input_rows"] for j in fetch_jobs)
    return out, stray


def replay_kernels(cfg, pages: list[tuple[str, bytes]], reps: int = 3) -> dict:
    """Single-threaded replay of the page kernels over ``(url, body)``
    pairs: median over ``reps`` sweeps of the per-call cost."""
    from suckit_spark.functions import htmlkit, urlkit
    from suckit_spark.operators.page_pipeline import process_page

    texts = [(u, b.decode("utf-8", errors="replace")) for u, b in pages]
    scans = [htmlkit.scan_page(t)[0] for _, t in texts]
    links = [(u, link["value"]) for (u, _), s in zip(texts, scans)
             for link in s]
    spl = [[(link["start"], link["end"], "x") for link in s] for s in scans]

    def sweep_process():
        for u, b in pages:
            process_page(cfg, u, b, "text/html")

    def sweep_scan():
        for _, t in texts:
            htmlkit.scan_page(t)

    def sweep_splice():
        for (_, t), r in zip(texts, spl):
            htmlkit.splice(t, r)

    def sweep_links():
        for u, raw in links:
            full = urlkit.resolve(u, urlkit.normalize_url(raw))
            urlkit.relative_link(urlkit.to_path(u, False),
                                 urlkit.to_path(full, True))
            urlkit.is_on_another_domain(raw, u)

    def per_call(fn, calls):
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return statistics.median(times) / max(calls, 1)

    return {
        "page_pipeline.process_page_ms": per_call(sweep_process, len(pages)) * 1e3,
        "htmlkit.scan_page_ms": per_call(sweep_scan, len(texts)) * 1e3,
        "htmlkit.splice_ms": per_call(sweep_splice, len(texts)) * 1e3,
        "urlkit.link_us": per_call(sweep_links, len(links)) * 1e6,
    }
