"""The benchmark's workloads. Each one builds its inputs from the seed,
warms up untimed, then runs timed passes and checks every pass's output.

A pass is one closed-loop unit of work: a whole crawl (seed URL to empty
frontier, each superstep waiting for the previous one, plus the final
``crawl_log`` count) or the whole list of headline queries, one after the
other, each forced to full output.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from . import expect
from .common import NPROC, ROOT
from .trace import PHASES, StepClock, fold_crawl, replay_kernels


@dataclass
class Pass:
    wall_s: float
    cpu_s: float              # CPU of the whole process tree over wall_s
    steps: list[float]        # superstep or query wall times
    items: int                # URLs visited or queries run
    ops: int = 1              # timed operations attempted
    failed: int = 0           # of which raised or failed their check
    problems: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)    # traced: per-layer metrics
    counts: dict = field(default_factory=dict)    # traced: raw crawl counts
    intervals: list = field(default_factory=list)  # superstep (start, end)


class Workload:
    name = ""
    #: prefixes of the per-layer metrics this workload does not run; the
    #: traced run prints them as 0 and fails on any other one it misses
    NOT_RUN: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str, tree):
        self.seed = seed
        self.work = work
        self.tree = tree
        self.spark = None

    def build(self) -> None:
        """Build the inputs from the seed."""

    def warmup(self) -> None:
        """One untimed pass, or enough of one to reach every code path."""

    def run_pass(self, tracer=None) -> Pass:
        raise NotImplementedError

    def close(self) -> None:
        pass


class _Crawl:
    """One crawl of the ``crawls`` workload; the session is shared."""

    def __init__(self, seed: int, work: str, clock: StepClock, tree):
        self.work = work
        self.clock = clock
        self.tree = tree
        self.spark = None

    def crawl_once(self, cfg):
        from suckit_spark.plans.crawl import crawl

        self.clock.reset()
        cpu0, t0 = self.tree.cpu_s(), time.monotonic()
        result = crawl(self.spark, cfg, self.pages_df())
        end = time.time()
        visited = result.crawl_log.count()
        wall = time.monotonic() - t0
        cpu = self.tree.cpu_s() - cpu0
        steps = self.clock.walls(end)
        return result, visited, wall, cpu, steps, list(zip(
            self.clock.starts, [a + w for a, w in zip(self.clock.starts,
                                                      steps)]))

    @staticmethod
    def check(result, visited: int, errors: int, supersteps: int) -> list:
        from pyspark.sql import functions as F

        row = result.crawl_log.agg(
            F.count("*").alias("n"), F.countDistinct("url").alias("urls"),
            F.sum((F.col("status") == "error").cast("long")).alias("err"),
        ).first()
        problems = []
        if row.n != visited:
            problems.append(f"crawl_log has {row.n} rows, expected {visited}")
        if row.urls != row.n:
            problems.append(f"{row.n - row.urls} URLs visited twice")
        if (row.err or 0) != errors:
            problems.append(f"{row.err} fetch errors, expected {errors}")
        if result.supersteps != supersteps:
            problems.append(f"{result.supersteps} supersteps, expected "
                            f"{supersteps}")
        return problems

    def store_counts(self, result) -> dict:
        """Counts read back from the crawl's per-superstep result store."""
        from pyspark.sql import functions as F

        store = self.spark.read.parquet(
            os.path.join(result.spill_dir, "step=*", "result"))
        ok = F.col("status") == "ok"
        row = store.agg(
            F.sum(F.when(ok, F.size("links")).otherwise(0)).alias("cand"),
            F.sum(ok.cast("long")).alias("ok_pages"),
            F.sum("n_bytes").alias("out_bytes"),
            F.sum((~ok).cast("long")).alias("errors"),
            F.count("*").alias("fetches"),
        ).first()
        counts = {k: int(v or 0) for k, v in row.asDict().items()}
        counts["new_urls"] = result.seen.count() - 1
        return counts


class CorpusCrawl(_Crawl):
    """Barrier-bound corpus crawl: ~400-byte pages, fanout 3, one 8x
    mega-host; the bloom seen-set sketch engages for the last supersteps."""

    #: bloom_threshold scales the CrawlConfig default (10k seen) down to
    #: this corpus: the sketch is built after superstep 8 and probed in the
    #: last two
    SHAPE = expect.CorpusShape(hosts=24, pages_per_host=50, fanout=3,
                               mega_factor=8, supersteps=10,
                               bloom_threshold=1750, bloom_step=8)

    def __init__(self, seed, work, clock, tree):
        super().__init__(seed, work, clock, tree)
        self.pick = expect.pick_corpus_seed(self.SHAPE, seed)
        self.pages = None

    def build(self) -> None:
        from suckit_spark.sources import corpus

        s = self.SHAPE
        gen = corpus.gen_corpus_df(
            self.spark, s.hosts, s.pages_per_host, fanout=s.fanout,
            mega_host_factor=s.mega_factor, seed=self.pick.seed,
            partitions=2 * NPROC)
        self.pages = corpus.prepare_pages_table(
            self.spark, gen, os.path.join(self.work, "corpus"),
            n_buckets=2 * NPROC, table_name="crawlbench_pages")
        self.pages.count()

    def pages_df(self):
        return self.pages

    def config(self, **kw):
        from suckit_spark.config import CrawlConfig
        from suckit_spark.sources import corpus

        kw.setdefault("bloom_threshold", self.SHAPE.bloom_threshold)
        return CrawlConfig(
            origin=corpus.page_url(0, 0, self.SHAPE.hosts), ext_depth=-1,
            continue_on_error=True, **kw)

    def warmup(self) -> None:
        # the first two supersteps, with the sketch built after the first,
        # so every code path of a superstep (sketch build and add, the
        # sketch-prefiltered anti-join) has run once
        self.crawl_once(self.config(max_supersteps=2,
                                    bloom_threshold=1))[0].close()

    def run(self, traced: bool) -> Pass:
        from pyspark.sql import functions as F

        result, visited, wall, cpu, steps, spans = self.crawl_once(
            self.config())
        p = Pass(wall, cpu, steps, visited, intervals=spans)
        p.problems = self.check(result, self.pick.visited, self.pick.errors,
                                self.pick.supersteps)
        if traced:
            p.counts = self.store_counts(result)
            fetched = result.crawl_log.filter(F.col("status") == "ok")
            p.counts["in_bytes"] = fetched.join(
                self.pages.select("url", "html"), "url").agg(
                F.sum(F.length("html"))).first()[0] or 0
            p.counts["frontier_rows"] = visited
            p.counts["deferred_rows"] = 0
        p.failed = int(bool(p.problems))
        result.close()
        return p

    def replay(self) -> dict:
        from suckit_spark.sources import corpus

        s, seed = self.SHAPE, self.pick.seed
        pages = []
        for i in range(300):
            h = i % s.hosts
            j = (i * 37) % s.host_pages(h)
            pages.append((corpus.page_url(h, j, s.hosts), corpus.page_body(
                h, j, s.hosts, s.host_pages(h), s.fanout, seed)))
        return replay_kernels(self.config(), pages)


class Site:
    """Handle on the loopback site process (crawlbench/site.py)."""

    def __init__(self, shape: expect.SiteShape, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "crawlbench", "site.py"),
             "--pages", str(shape.pages), "--fanout", str(shape.fanout),
             "--seed", str(seed), "--disallow", shape.disallow],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline().split()
        if not line or line[0] != "ready":
            self.stop()
            raise RuntimeError("loopback site did not start")
        self.base = f"http://127.0.0.1:{line[1]}"

    def stats(self) -> dict:
        self.proc.stdin.write("stats\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


class LiveCrawl(_Crawl):
    """Durable live crawl of the loopback site: robots.txt Disallow, a host
    budget that defers part of each wave, a checkpoint commit per
    superstep."""

    SHAPE = expect.SiteShape(pages=59, fanout=32, budget=25, disallow="/p1",
                             supersteps=3)

    def __init__(self, seed, work, clock, tree):
        super().__init__(seed, work, clock, tree)
        self.pick = expect.pick_site_seed(self.SHAPE, seed)
        self.site = None
        self.runs = 0

    def build(self) -> None:
        self.site = Site(self.SHAPE, self.pick.seed)
        self.tree.exclude.add(self.site.proc.pid)

    def pages_df(self):
        from suckit_spark.schemas import PAGES_SCHEMA

        return self.spark.createDataFrame([], PAGES_SCHEMA)

    def config(self, **kw):
        from suckit_spark.config import CrawlConfig

        self.runs += 1
        ckpt = os.path.join(self.work, f"checkpoint-{self.runs}")
        return CrawlConfig(
            origin=f"{self.site.base}/p0.html", live_fetch=True, jobs=NPROC,
            continue_on_error=True, respect_robots=True,
            host_budget=self.SHAPE.budget, checkpoint_dir=ckpt, **kw)

    def warmup(self) -> None:
        # the first two supersteps: robots, a commit each, and the budget
        # deferral of the second wave (with its frontier checkpoint and
        # count) — every code path of the timed crawl
        cfg = self.config(max_supersteps=2)
        self.crawl_once(cfg)[0].close()
        shutil.rmtree(cfg.checkpoint_dir, ignore_errors=True)

    def run(self, traced: bool) -> Pass:
        before = self.site.stats()
        cfg = self.config()
        result, visited, wall, cpu, steps, spans = self.crawl_once(cfg)
        after = self.site.stats()
        want = self.pick.visited
        p = Pass(wall, cpu, steps, visited, intervals=spans)
        p.problems = self.check(result, want, 0, self.pick.supersteps)
        mirrored = result.mirror.count()
        if mirrored != want:
            p.problems.append(f"mirror holds {mirrored} pages, expected "
                              f"{want} (site pages minus disallowed)")
        bad = after["disallowed_requests"] - before["disallowed_requests"]
        if bad:
            p.problems.append(f"{bad} requests for disallowed paths")
        frontier = self.checkpoint_counts(cfg.checkpoint_dir, visited)
        if frontier["deferred_rows"] != self.pick.deferred:
            p.problems.append(f"{frontier['deferred_rows']} rows deferred, "
                              f"expected {self.pick.deferred}")
        if traced:
            p.counts = self.store_counts(result)
            p.counts.update(frontier)
            p.counts["blocked"] = self.blocked(result)
            p.counts["in_bytes"] = after["bytes"] - before["bytes"]
            p.counts["requests"] = after["requests"] - before["requests"]
            p.counts["connections"] = (after["connections"]
                                       - before["connections"])
            p.counts["service_ms"] = after["service_ms"][
                len(before["service_ms"]):]
        p.failed = int(bool(p.problems))
        shutil.rmtree(cfg.checkpoint_dir, ignore_errors=True)
        return p

    @staticmethod
    def checkpoint_counts(ckpt: str, fetched: int) -> dict:
        """Bytes the commits wrote (everything but the result store, which
        the fetch phase writes) and frontier sizes from the manifests."""
        written = 0
        for dirpath, _dirs, files in os.walk(ckpt):
            if os.sep + "result" in dirpath:
                continue
            written += sum(os.path.getsize(os.path.join(dirpath, f))
                           for f in files)
        rows = 1
        for name in os.listdir(ckpt):
            if name.startswith("_manifest_") and name.endswith(".json"):
                with open(os.path.join(ckpt, name)) as f:
                    rows += json.load(f)["stats"]["frontier_rows"]
        return {"ckpt_bytes": written, "frontier_rows": rows,
                "deferred_rows": rows - fetched}

    def blocked(self, result) -> int:
        """Distinct disallowed link targets on the fetched pages — each one
        a candidate the robots gate had to drop."""
        from pyspark.sql import functions as F

        store = self.spark.read.parquet(
            os.path.join(result.spill_dir, "step=*", "result"))
        path = F.parse_url(F.col("link.url"), F.lit("PATH"))
        return (store.select(F.explode("links").alias("link"))
                .filter(path.startswith(self.SHAPE.disallow))
                .select("link.url").distinct().count())

    def close(self) -> None:
        if self.site is not None:
            self.site.stop()


class Crawls(Workload):
    """A corpus crawl and then a live crawl, one closed loop each, in one
    session (see README.md for why the two share a run)."""

    name = "crawls"
    NOT_RUN = ("query.",)

    def __init__(self, seed, work, tree):
        super().__init__(seed, work, tree)
        self.clock = StepClock()
        self.light = CorpusCrawl(seed, work, self.clock, tree)
        self.live = LiveCrawl(seed, work, self.clock, tree)
        self.parts = (self.light, self.live)

    def build(self) -> None:
        for part in self.parts:
            part.spark = self.spark
            part.build()

    def warmup(self) -> None:
        for part in self.parts:
            part.warmup()

    def run_pass(self, tracer=None) -> Pass:
        runs = [part.run(tracer is not None) for part in self.parts]
        p = Pass(sum(r.wall_s for r in runs), sum(r.cpu_s for r in runs),
                 [s for r in runs for s in r.steps],
                 sum(r.items for r in runs), ops=len(runs),
                 failed=sum(r.failed for r in runs),
                 problems=[m for r in runs for m in r.problems])
        if tracer is not None:
            p.layers, stray = self.layers(runs, tracer)
            if stray:
                # a call site no phase rule matches: the rules in trace.py
                # no longer fit plans/crawl.py
                p.problems.append(f"jobs in no phase, started at {stray}")
                p.failed += 1
                p.ops += 1
        return p

    def layers(self, runs, tracer) -> tuple[dict, list[str]]:
        light, live = runs
        jobs = tracer.jobs()
        out, stray = fold_crawl(tracer.spans, jobs,
                                light.intervals + live.intervals)
        corpus, _ = fold_crawl(tracer.spans, jobs, light.intervals)
        c = {k: light.counts[k] + live.counts[k] for k in (
            "cand", "new_urls", "ok_pages", "out_bytes", "errors", "fetches",
            "in_bytes", "frontier_rows", "deferred_rows")}
        lc = live.counts
        out.update({
            "corpus.scan_mb": corpus["corpus.scan_mb"],
            "corpus.scan_rows_per_fetch":
                corpus["corpus.input_rows"] / max(light.counts["fetches"], 1),
            "crawl.error_ratio": c["errors"] / max(c["fetches"], 1),
            "page_pipeline.in_mb": c["in_bytes"] / 2**20,
            "page_pipeline.out_mb": c["out_bytes"] / 2**20,
            "page_pipeline.links_per_page": c["cand"] / max(c["ok_pages"], 1),
            "dedup.candidates": c["cand"],
            "dedup.new_urls": c["new_urls"],
            "dedup.new_ratio": c["new_urls"] / max(c["cand"], 1),
            "frontier.rows": c["frontier_rows"],
            "frontier.deferred_rows": c["deferred_rows"],
            "live_fetch.requests": lc["requests"],
            "live_fetch.connections": lc["connections"],
            "live_fetch.requests_per_connection":
                lc["requests"] / max(lc["connections"], 1),
            "live_fetch.server_ms_p50": statistics.median(lc["service_ms"]),
            "robots.blocked": lc["blocked"],
            "checkpoint.mb_written": lc["ckpt_bytes"] / 2**20,
        })
        out.update(self.light.replay())
        return out, stray

    def close(self) -> None:
        self.live.close()
        self.clock.close()


class CurationQueries(Workload):
    """Curation queries over seeded documents and embeddings, each checked
    against its DuckDB twin."""

    name = "curation_queries"
    NOT_RUN = tuple(f"{phase}." for phase in PHASES) + (
        "crawl.", "corpus.", "page_pipeline.", "htmlkit.", "urlkit.",
        "dedup.", "frontier.", "live_fetch.", "checkpoint.")
    #: headline queries of the repository's bench.py on
    #: operators/webtext.py and operators/graph.py, one per kind of work:
    #: exact, MinHash and SimHash dedup, vector top-k, quality score and
    #: link-graph rank
    QUERIES = [
        "exact_dedup", "minhash_lsh_pairs", "simhash_near_pairs",
        "cosine_topk", "quality_score", "pagerank_fixed_point",
    ]

    def __init__(self, seed, work, tree):
        super().__init__(seed, work, tree)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.data = os.path.join(self.work, "tables")
        self.expected = None

    def build(self) -> None:
        from .tables import build_tables

        self.paths = build_tables(self.seed, self.data)

    def oracle_rows(self) -> dict:
        import duckdb

        con = duckdb.connect()
        for name, path in self.paths.items():
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return {q: canon(con.sql(self.oracles[q]).df())
                for q in self.QUERIES}

    def warmup(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        # untimed, so the cold pass may overlap: one query per slot
        with ThreadPoolExecutor(NPROC) as pool:
            list(pool.map(lambda q: self.queries[q](
                self.spark, self.data).toPandas(), self.QUERIES))

    def run_pass(self, tracer=None) -> Pass:
        walls, problems, outputs = [], [], {}
        cpu0 = self.tree.cpu_s()
        for q in self.QUERIES:
            t0 = time.monotonic()
            try:
                outputs[q] = self.queries[q](self.spark, self.data).toPandas()
            except Exception as e:  # a failed query counts, the pass goes on
                problems.append(f"{q}: raised {type(e).__name__}: {e}")
            walls.append(time.monotonic() - t0)
        cpu = self.tree.cpu_s() - cpu0
        if self.expected is None:
            # outside the timed window and outside setup: DuckDB's time
            # is not the engine's
            self.expected = self.oracle_rows()
        failed = len(problems)
        for q, pdf in outputs.items():
            if canon(pdf) != self.expected[q]:
                problems.append(f"{q}: output differs from its DuckDB twin")
                failed += 1
        p = Pass(sum(walls), cpu, walls, len(self.QUERIES),
                 ops=len(self.QUERIES),
                 failed=failed, problems=problems)
        if tracer is not None:
            p.layers = {f"query.{q}_s": w for q, w in zip(self.QUERIES, walls)}
        return p


def canon(df):
    """Order-insensitive comparable form: columns by name, values as
    strings (floats to 6 decimals), rows sorted."""
    import decimal
    import math

    cols = sorted(df.columns)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, (float, decimal.Decimal)):
            return f"{float(v):.6f}"
        return str(v)

    return cols, sorted(tuple(norm(v) for v in row)
                        for row in df[cols].itertuples(index=False))


WORKLOADS = {w.name: w for w in (Crawls, CurationQueries)}
