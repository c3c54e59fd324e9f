"""The bulk-synchronous crawl loop: one superstep per BFS queue generation.

With ``jobs=1`` the reference's FIFO channel makes the crawl an exact BFS —
every URL enqueued during generation *s* is processed after all of generation
*s* and before anything they enqueue (scraper.rs:50,316). That queue
discipline maps 1:1 onto a driver loop of set-oriented DataFrame operations:

    superstep s:
      frontier_s  --politeness budget-->  (selected, deferred)
        --LEFT JOIN pages ON fetch_url-->                 (the "fetch": the
              join exchange hash-partitions the frontier by canonical URL;
              the pages side is bucketed by url, so it never shuffles)
        --mapInPandas(page pipeline P1-P11)-->            (one Arrow stage;
              live mode runs the HTTP fetch inside the same stage)
        --result store -> parquet (Iceberg-append shape)-->
        --posexplode(links)--> candidates
        --first-wins dedup--> --left-anti join seen (or sketch probe)-->
        --depth gates--> frontier_{s+1} (∪ deferred)
      commit snapshot: frontier_{s+1} + seen delta + manifest
    until frontier empty                                   (exact termination;
                                       the reference polls an empty channel 10
                                       times, scraper.rs:315-321 — BSP needs no
                                       heuristic)

Determinism: each row carries ``order_key`` = parent's key + [link position].
(superstep, order_key) sorts the log in exactly the order the reference's
single worker would visit, with no global sequencing bottleneck in the loop
itself — a scalar ``visit_seq`` is assigned only in ``finalize`` (tests), via
one window over the final log.

Bookkeeping costs no Spark job of its own: the error count and the cookie
relay's Set-Cookie rows ride the result write as an Observation; the
new/gated counts and the next wave's robots hosts ride the ``new_urls``
checkpoint; the frontier count rides the ``next_frontier`` checkpoint. The
mirror, crawl log and metrics are lazy views over one read of the result
stores the crawl ran or resumed.
"""

from __future__ import annotations

import functools
import os
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field as dc_field

from pyspark.sql import (
    Column, DataFrame, Observation, SparkSession, functions as F,
)

from ..config import INFINITE_DEPTH, CrawlConfig
from ..operators import dedup as dedup_ops
from ..operators import frontier as frontier_ops
from ..operators import robots as robots_ops
from ..operators.page_pipeline import make_page_pipeline
from ..schemas import (
    FRONTIER_SCHEMA, PAGE_RESULT_SCHEMA, PAGES_SCHEMA, SEEN_SCHEMA,
    local_frame,
)
from ..functions import urlkit
from . import parquet_sink
from .checkpoint import CrawlCheckpoint

#: where the robots rules live, by scale (operators/robots.py); the gate is
#: the same equi-join on host either way. When the corpus has at least this
#: many robots.txt hosts (live mode: once the crawl has fetched that many),
#: the rules are a distributed ``(host, prefixes)`` table (no driver collect
#: of the rules); below it, a driver dict shipped as a JVM-local frame that
#: Catalyst broadcasts.
ROBOTS_JOIN_THRESHOLD = 10_000

#: the in-memory seen-delta union is compacted into one materialized table
#: once it holds more than this many deltas (see the loop's compaction step).
SEEN_COMPACT_INTERVAL = 16

#: salt buckets of the politeness-budget window, so a mega-host's frontier
#: spreads over this many tasks (``frontier.apply_host_budget``; exact).
SKEW_SALT_BUCKETS = 16

#: live-mode robots.txt fetches for hosts a superstep introduces run on the
#: driver up to this many (a Spark job costs more than it saves for a
#: handful); larger waves distribute the fetches as one Arrow stage.
_ROBOTS_DRIVER_FETCH_MAX = 4


class CrawlAbort(RuntimeError):
    """Fetch failure without --continue-on-error (scraper.rs:275-281)."""




@dataclass
class CrawlResult:
    mirror: DataFrame
    crawl_log: DataFrame          # ordered, with visit_seq
    seen: DataFrame
    metrics: DataFrame
    #: the result stores of every superstep this crawl ran or resumed, all
    #: columns but ``page_text``, in one parquet read: the widest view of a
    #: finished crawl, which the three views above project from
    store: DataFrame
    supersteps: int
    wall_times: list[float] = dc_field(default_factory=list)
    #: per-superstep phase breakdown (fetch+parse+result write / candidate
    #: dedup / the rest: frontier, sketch, commit), for scaling diagnosis,
    #: and ``codegen_compiles``: the classes Spark's code generator compiled
    #: during the superstep (JVM-wide count read on the driver; in local
    #: mode it covers the executors too)
    phase_times: list[dict] = dc_field(default_factory=list)
    #: parquet spill dir holding the per-superstep result stores (delete only
    #: after consuming result.store, mirror, crawl_log and metrics)
    spill_dir: str | None = None
    #: True when spill_dir is a crawl-created temp dir (safe to delete);
    #: False when it is the caller's checkpoint_dir.
    owns_spill_dir: bool = False

    def close(self) -> None:
        """Delete the temp spill dir backing ``store``, ``mirror``,
        ``crawl_log`` and ``metrics``. Call once those DataFrames are fully
        consumed; they are invalid afterwards. No-op when the spill dir is
        the caller's checkpoint_dir."""
        import shutil

        if self.owns_spill_dir and self.spill_dir:
            shutil.rmtree(self.spill_dir, ignore_errors=True)

    def materialize_mirror(self, output_dir: str) -> None:
        """Write the actual file tree (disk.rs parity): bytes per path, plus
        symlinks for content-disposition filenames. Executor-side
        ``foreachPartition`` — no driver collect."""
        import os

        def write_partition(rows):
            for r in rows:
                if r.filename:
                    fpath = os.path.join(output_dir, r.filename)
                    os.makedirs(os.path.dirname(fpath) or output_dir, exist_ok=True)
                    with open(fpath, "wb") as f:
                        f.write(bytes(r.content) if r.content is not None else b"")
                    link = os.path.join(output_dir, r.path)
                    os.makedirs(os.path.dirname(link), exist_ok=True)
                    if not os.path.lexists(link):
                        os.symlink(r.symlink_target, link)
                else:
                    fpath = os.path.join(output_dir, r.path)
                    os.makedirs(os.path.dirname(fpath), exist_ok=True)
                    with open(fpath, "wb") as f:
                        f.write(bytes(r.content) if r.content is not None else b"")

        os.makedirs(output_dir, exist_ok=True)
        self.mirror.foreachPartition(write_partition)


def _normalize_pages(pages: DataFrame) -> DataFrame:
    """Ensure every PAGES_SCHEMA column exists (missing -> null)."""
    existing = set(pages.columns)
    cols = [
        F.col(f.name) if f.name in existing else F.lit(None).cast(f.dataType).alias(f.name)
        for f in PAGES_SCHEMA.fields
    ]
    return pages.select(*cols)


def _seed_frontier(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    origin = cfg.origin
    row = [(origin, urlkit.strip_fragment(origin), 0, 0, 0, [0])]
    return local_frame(spark, row, FRONTIER_SCHEMA)


def crawl(
    spark: SparkSession,
    cfg: CrawlConfig,
    pages: DataFrame,
    resume: bool = False,
    stop_event=None,
) -> CrawlResult:
    """Run the full crawl; returns result DataFrames (nothing collected).

    ``stop_event`` (a ``threading.Event``-like object) requests a graceful
    stop: checked at the same superstep boundary as ``max_wall_sec``, after
    at least one superstep, so every completed superstep remains a valid
    resumable prefix. This is the BSP realization of interrupting the
    reference mid-crawl (tests/benchmark.py SIGINTs the process and the
    already-written files persist).

    Every superstep runs the same dataflow, so Spark's cache of generated
    code serves all supersteps after the first — provided the generated
    source is identical: no per-superstep literal reaches a plan (the
    superstep number rides the rows), and for the crawl's duration
    ``spark.sql.codegen.useIdInClassName`` is off, so a stage whose id
    shifted (the seen union widens every superstep) keeps its class name."""
    with _sql_conf(spark, "spark.sql.codegen.useIdInClassName", "false"):
        return _crawl(spark, cfg, pages, resume, stop_event)


def _crawl(spark: SparkSession, cfg: CrawlConfig, pages: DataFrame,
           resume: bool, stop_event) -> CrawlResult:
    pages = _normalize_pages(pages)
    # Column-prune the fetch side once: the page pipeline consumes the raw
    # body + fetch metadata; ``text``/``lang``/``warc_ts`` are corpus
    # annotations it never reads. Pruning here (not relying on Catalyst,
    # which cannot prune through the vUDF's opaque column use) keeps ~half
    # the corpus bytes out of every superstep's scan/decode.
    fetch_pages = pages.select(
        "url", "html", "content_type", "content_disposition",
        "requires_auth", "auth_user", "auth_pass", "status")
    # Fetch-side layout (north_rule partitioning discipline): the corpus side
    # of the per-superstep join must not be exchanged per superstep. A
    # url-bucketed table (sources/corpus.prepare_pages_table; Iceberg
    # ``bucket(N, url)`` at the design point) already satisfies this — its
    # scan reports ``Bucketed: true``. Any other input (the library default:
    # an arbitrary in-memory DataFrame) is re-laid-out ONCE here:
    # hash-repartition by url + sort within partitions + persist serialized.
    # InMemoryTableScan preserves both partitioning and ordering, so each
    # superstep's sort-merge fetch join exchanges and sorts ONLY the frontier
    # (previously the whole corpus re-shuffled AND re-sorted per superstep).
    owns_pages_cache = False
    if not cfg.live_fetch and not _scan_is_bucketed(spark, fetch_pages):
        from pyspark import StorageLevel
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        fetch_pages = (
            fetch_pages.repartition(n_part, "url")
            .sortWithinPartitions("url")
            .persist(StorageLevel.MEMORY_AND_DISK))
        owns_pages_cache = True
    ckpt = CrawlCheckpoint(spark, cfg.checkpoint_dir) if cfg.checkpoint_dir else None

    # Content-bearing superstep output is streamed to table storage (the
    # Iceberg-append shape; Parquet fallback), never accumulated in executor
    # memory: at 10^10-URL scale a crawl's mirror is far bigger than cluster
    # RAM, and even at bench scale pinning every superstep's rewritten bytes
    # in the block manager causes GC/eviction thrash. The checkpoint dir
    # doubles as that storage; without one, a temp spill dir serves.
    spill_dir = cfg.checkpoint_dir or tempfile.mkdtemp(prefix="suckit_spill_")

    # The seen set is kept as a list of per-superstep delta DataFrames (each
    # one already materialized): the anti-join reads their lazy union, so a
    # superstep never pays to re-copy the whole accumulated seen table —
    # O(total) work per superstep becomes O(delta). (Iceberg snapshots are
    # exactly this append-only shape; SURVEY.md §4.) result_paths lists the
    # result store of every superstep this crawl ran or resumed: the mirror,
    # crawl log and metrics are lazy views over one read of them.
    if resume and ckpt is not None and ckpt.last_superstep() is not None:
        state = ckpt.load({"frontier": FRONTIER_SCHEMA, "seen": SEEN_SCHEMA})
        frontier = state["frontier"]
        frontier_count = int(state["stats"]["frontier_rows"])
        seen_deltas = [state["seen"]]
        seen_count = state["seen"].count()
        step = state["superstep"] + 1
        result_paths = [p for p in (_result_path(spill_dir, s)
                                    for s in range(step))
                        if os.path.exists(p)]
    else:
        if ckpt is not None:
            ckpt.clear()
        frontier = _seed_frontier(spark, cfg)
        frontier_count = 1
        seen_deltas = [local_frame(spark, [(cfg.origin, 0)], SEEN_SCHEMA)]
        seen_count = 1
        step = 0
        result_paths = []

    pipeline = make_page_pipeline(cfg)
    wall_times: list[float] = []
    phase_times: list[dict] = []
    seen = _union_all(seen_deltas)
    # Seen rows not yet covered by a committed snapshot (the seed row on a
    # fresh start; empty on resume — everything loaded was committed). Each
    # commit flushes these so the append-only seen log stays complete.
    pending_seen = [] if (resume and ckpt is not None
                          and step > 0) else list(seen_deltas)

    # approximate mode's BloomState; None while the crawl dedups exactly
    sketch = None

    # robots.txt: every gate is robots_ops.apply_robots_join against the
    # (host, prefixes) rules frame; where the rules live decides how the
    # frame is built (robots.py module doc).
    robots_rules: DataFrame | None = None
    live_robots_rules: dict | None = None
    # live dict mode: the (base, host) pairs of the next frontier, observed
    # on the previous superstep's new_urls checkpoint; None on the first
    # superstep of a run, which collects them from its frontier instead
    robots_bases: list | None = None
    if cfg.respect_robots:
        if cfg.live_fetch:
            # live mode: rules are fetched over HTTP per newly-seen host,
            # incrementally, inside the loop (one robots.txt per host ever).
            live_robots_rules = {}
        else:
            # By scale: a driver dict, shipped as a JVM-local frame, while
            # the robots host count is small; a distributed table past
            # ROBOTS_JOIN_THRESHOLD, where the dict itself would be GBs.
            robots_urls = pages.filter(F.col("url").endswith("/robots.txt"))
            if robots_urls.count() >= ROBOTS_JOIN_THRESHOLD:
                robots_rules = robots_ops.robots_rules_df(
                    pages, cfg.user_agent).localCheckpoint(eager=True)
            else:
                robots_rules = robots_ops.rules_frame(
                    spark, robots_ops.collect_robots_rules(
                        pages, cfg.user_agent))

    # Cookie state, live mode (reference cookie_store(true)): within a fetch
    # task, the opener's CookieJar (full attribute semantics); across
    # supersteps, a driver-held relay store folds every response's
    # Set-Cookie — observed on the superstep's write job — into the NEXT
    # superstep's request headers, so a session cookie minted on one
    # executor reaches requests on every other. Driver state is one entry
    # per cookie-setting host (same scale envelope as the live robots dict).
    live_cookie_store: dict = {}
    live_robots_delays: dict = {}

    # rows of the frontier its ranking deferred, observed in the job that
    # ranked it; None for a frontier the previous superstep did not rank
    frontier_deferred = None
    crawl_t0 = time.monotonic()
    steps_run = 0
    while frontier_count > 0:
        if cfg.max_supersteps is not None and step >= cfg.max_supersteps:
            break
        # Wall-clock budget (reference benchmark protocol: fixed RUN_TIME,
        # count pages): checked at the superstep BOUNDARY, after at least
        # one superstep, so every completed superstep remains a valid
        # resumable prefix.
        if (cfg.max_wall_sec is not None and steps_run > 0
                and time.monotonic() - crawl_t0 >= cfg.max_wall_sec):
            break
        # Graceful interrupt (same boundary semantics as the wall budget).
        if stop_event is not None and steps_run > 0 and stop_event.is_set():
            break
        t0 = time.monotonic()
        compiles0 = _codegen_compiles(spark)

        # C3: per-host politeness budget — overflow defers, order preserved;
        # salted two-phase window so a mega-host cannot serialize the stage.
        # The previous superstep ranked this frontier when it materialized
        # it, so the split is two filters; a frontier no larger than the
        # budget defers nothing; any other (a resumed one) is ranked here.
        selected, deferred = frontier_ops.apply_host_budget(
            frontier, cfg.host_budget, salt_buckets=SKEW_SALT_BUCKETS,
            priority_expr=cfg.priority_expr, rows=frontier_count)
        deferred_rows = 0 if deferred is None else frontier_deferred

        # S2/S3: the fetch = LEFT OUTER join against the pages corpus,
        # preserving every frontier row (a missing page is a fetch error, not
        # a dropped row). Shuffle discipline: only the FRONTIER side may be
        # exchanged — the join key is the canonical URL, so that exchange IS
        # the explicit url-hash repartition of each superstep (north_rule);
        # the pages side must expose a reusable url partitioning (Iceberg
        # ``bucket(N, url)`` at the 10^10 design point; a parquet ``bucketBy``
        # table in the sandbox, scripts/submit_crawl.py) so its scan avoids
        # both exchange and sort. A flat un-bucketed corpus was re-laid-out
        # ONCE above (repartition + sort + persist), so it joins the same way.
        # (Broadcasting a small frontier is NOT an option here: Spark cannot
        # build the preserved side of an outer join, so a broadcast hint on
        # the frontier of a right-outer join silently degrades to shuffling
        # the whole corpus.) Host-skew salting applies to the host-keyed
        # stages (budget window, metrics), not this url-keyed join — url
        # hashes of one mega-host already spread uniformly.
        # P1-P11 run in one Arrow stage whose workers also write the page
        # result store (Iceberg-append shape; parquet fallback): content
        # bytes never return to the JVM, and every consumer is a
        # column-pruned read of that parquet (no block-manager cache).
        step_path = _result_path(spill_dir, step)
        parquet_sink.reset_dir(step_path)
        sink = _store_sink(step_path, cfg.dry_run)
        if cfg.live_fetch:
            from ..operators import live_fetch as live_fetch_ops
            if cfg.respect_robots:
                # Fetch robots.txt for hosts this superstep introduces.
                # Where the rules live depends on host count (the same scale
                # choice corpus mode makes): below ROBOTS_JOIN_THRESHOLD the
                # driver holds a small rules dict (one entry per host),
                # rebuilt into a rules frame only when it grew; PAST the
                # threshold the rules live in a distributed (host, prefixes)
                # DataFrame fed directly by the distributed robots fetches —
                # the driver never stores a prefix again (a 10^8-host live
                # crawl would otherwise grow a GB-scale dict and re-ship it
                # every wave). Crawl-delays stay driver-side either way: one
                # float per host that declares one — rare, and the fetch
                # stage needs them as a plain dict.
                bases_df = (
                    selected.select(_robots_base(F.col("fetch_url")).alias("b"))
                    .filter(F.col("b.h").isNotNull()).distinct()
                    .select("b.base", "b.h"))
                if live_robots_rules is not None:
                    # The next frontier's hosts are the hosts of the gated
                    # new_urls (observed below) plus those of deferred rows,
                    # which this superstep's selected rows already cover.
                    if robots_bases is None:
                        robots_bases = bases_df.collect()
                    new_hosts = [
                        (r.base, r.h) for r in robots_bases
                        if r.h not in live_robots_rules]
                else:
                    # join mode: membership lives in the rules table; only
                    # genuinely new hosts ever reach the driver (one tiny
                    # row each, per wave).
                    new_hosts = [
                        (r.base, r.h) for r in bases_df.join(
                            robots_rules.select(
                                F.col("host").alias("h")),
                            on="h", how="left_anti").collect()]
                grew = bool(new_hosts)
                # A frontier wave can introduce thousands of hosts; fetching
                # each robots.txt from the driver would serialize the
                # superstep on network latency. Past a handful, distribute
                # the fetches as one Arrow stage (jobs-bounded, the same
                # parallelism envelope as the page fetch itself); the collect
                # is one tiny row per new host. Below the threshold a Spark
                # job costs more than it saves.
                if len(new_hosts) <= _ROBOTS_DRIVER_FETCH_MAX:
                    fetched_txt = [
                        (h, live_fetch_ops.fetch_robots_txt(cfg, base))
                        for base, h in new_hosts]
                else:
                    bdf = local_frame(
                        spark, new_hosts, "base string, h string").repartition(
                        min(len(new_hosts), max(cfg.jobs, 1) * 4))
                    cfg_ser = cfg

                    def _fetch_robots(batches):
                        from ..operators import live_fetch as lf
                        for pdf in batches:
                            pdf = pdf.assign(txt=[
                                lf.fetch_robots_txt(cfg_ser, b)
                                for b in pdf["base"]])
                            yield pdf[["h", "txt"]]

                    fetched_txt = [
                        (r.h, r.txt) for r in bdf.mapInPandas(
                            _fetch_robots, "h string, txt string").collect()]
                new_rules = {}
                for h, txt in fetched_txt:
                    prefixes = robots_ops.parse_robots(txt, cfg.user_agent)
                    if live_robots_rules is not None:
                        live_robots_rules[h] = prefixes
                    else:
                        new_rules[h] = prefixes
                    # de-facto Crawl-delay directive: per-host politeness
                    # floor, enforced in the fetch stage (stricter of this
                    # and cfg.delay wins)
                    d = robots_ops.parse_crawl_delay(txt, cfg.user_agent)
                    if d is not None:
                        live_robots_delays[h] = d
                if (live_robots_rules is not None
                        and len(live_robots_rules) >= ROBOTS_JOIN_THRESHOLD):
                    # Threshold crossing: seed the distributed rules table
                    # from the dict, then stop maintaining the dict. (At
                    # real scale the union-per-wave below is an append to a
                    # rules TABLE — Iceberg append in production; an
                    # eagerly-materialized localCheckpoint caps lineage in
                    # the sandbox.)
                    robots_rules = robots_ops.rules_frame(
                        spark, live_robots_rules).localCheckpoint(eager=True)
                    live_robots_rules = None
                elif live_robots_rules is None and new_rules:
                    robots_rules = robots_rules.unionByName(
                        robots_ops.rules_frame(spark, new_rules)
                    ).localCheckpoint(eager=True)
                elif live_robots_rules is not None and (
                        grew or robots_rules is None):
                    robots_rules = robots_ops.rules_frame(
                        spark, live_robots_rules)
                # Re-gate the SELECTED rows with the refreshed rules before
                # fetching: a URL admitted to the frontier before its host's
                # robots.txt existed (every seed; each new host's first
                # wave — its links were gated when the host had no rules and
                # allow-by-default applied) must still not be FETCHED if the
                # just-fetched rules disallow it. Dropped rows stay in the
                # seen set: the rules that exclude them are now loaded, so
                # re-discovery would be dropped at candidate time anyway.
                selected = robots_ops.apply_robots_join(
                    selected, robots_rules, url_col="fetch_url")
            # The HTTP fetch runs inside the page pipeline's Arrow stage: one
            # Python worker per fetch task, fetched rows never leave it.
            fetch = live_fetch_ops.make_fetch(
                cfg,
                relay_cookies=live_fetch_ops.render_cookie_headers(
                    live_cookie_store),
                host_delays=dict(live_robots_delays))
            store = live_fetch_ops.fetch_partitions(
                selected, cfg, frontier_count).mapInPandas(
                lambda batches, fetch=fetch, sink=sink: sink(
                    pipeline(fetch(batches))),
                STORE_SUMMARY_SCHEMA)
        else:
            pages_k = fetch_pages.withColumnRenamed("url", "page_url")
            fetched = selected.join(
                pages_k,
                on=F.col("fetch_url") == F.col("page_url"),
                how="left",
            )
            fetched = fetched.withColumn(
                "found", F.col("page_url").isNotNull()).drop("page_url")
            store = fetched.mapInPandas(
                lambda batches, sink=sink: sink(pipeline(batches)),
                STORE_SUMMARY_SCHEMA)

        # Error count rides the WRITE job as an Observation (one driver job
        # per superstep saved vs the old status-pruned head(1) read): the
        # C6 abort path only re-reads the store for the failing url when
        # the observed count says there is one. Live mode's Set-Cookie
        # responses ride it too (one row per cookie-setting page).
        store_obs = Observation(f"store_{step}")
        relay_rows = ([F.collect_list(F.when(
            F.col("set_cookie").isNotNull(),
            F.struct(frontier_ops.host_col("fetch_url").alias("h"),
                     "set_cookie"))).alias("set_cookie")]
            if cfg.live_fetch else [])
        store = store.observe(
            store_obs,
            F.sum((F.col("status") == "error").cast("long")).alias("n_err"),
            *relay_rows)
        t_fetch0 = time.monotonic()
        store.write.format("noop").mode("overwrite").save()
        t_fetch = time.monotonic() - t_fetch0
        store_stats = store_obs.get
        n_err_step = int(store_stats["n_err"] or 0)
        # Explicit schema: re-reading with inference would cost a driver job
        # per superstep just to re-discover a schema we already know.
        result_pq = spark.read.schema(_result_store_schema()).parquet(step_path)
        result_paths.append(step_path)

        # Harvest Set-Cookie responses into the relay store (live mode),
        # from the rows the write job observed. The relay scopes cookies
        # to the WHOLE fetch host (Domain/Path attributes are intentionally
        # not honored — a /app-scoped cookie is also sent to /other on the
        # same host, and a Domain=.example.com cookie does NOT fan out to
        # sibling subdomains); Secure and deletion ARE honored (see
        # merge_set_cookie_lines). Full RFC scoping lives in each fetch
        # task's CookieJar, for the requests within that task.
        for r in store_stats.get("set_cookie") or []:
            if r.h:
                live_fetch_ops.merge_set_cookie_lines(
                    live_cookie_store, r.h, r.set_cookie)

        # C6: error policy — the count came free with the write job; the
        # url-bearing read runs only on the (rare) abort path itself.
        if not cfg.continue_on_error and n_err_step > 0:
            err = result_pq.filter(
                F.col("status") == "error").select("url").head(1)
            if err:
                raise CrawlAbort(f"Couldn't download a page: {err[0].url}")

        # P4-P8: explode candidates, gate, dedup, grow the seen set. The
        # superstep number rides the rows from here on, never a literal:
        # Spark inlines int literals into generated code, and one per
        # superstep would make every superstep compile its own classes.
        t_cand0 = time.monotonic()
        cand = (
            result_pq.select(
                F.col("url").alias("parent_url"),
                F.col("depth"), F.col("ext_depth"), F.col("superstep"),
                F.col("order_key").alias("parent_key"),
                F.explode("links").alias("link"),
            )
            .select(
                F.col("link.url").alias("url"),
                F.col("link.external").alias("external"),
                F.col("depth"), F.col("ext_depth"), F.col("superstep"),
                F.concat("parent_key", F.array(F.col("link.pos").cast("long")))
                .alias("order_key"),
            )
        )
        # robots.txt gate: blocked candidates are dropped at discovery
        # time — never enqueued, never marked seen.
        if robots_rules is not None:
            cand = robots_ops.apply_robots_join(cand, robots_rules)

        # First-wins within the superstep (order-preserving) then the seen
        # test: an exact left-anti join against seen, or — approximate mode,
        # once its bloom is engaged — the bloom alone (probe only, no
        # O(seen) shuffle).
        winners = dedup_ops.first_wins(cand, "url", "order_key")
        if sketch is not None:
            new_urls = dedup_ops.probe_unseen(winners, sketch)
        else:
            new_urls = winners.join(seen.select("url"), on="url",
                                    how="left_anti")
        # F5/F6: depth gates choose which newly-seen URLs are actually
        # fetched (defined here so the gate predicate can ride the
        # checkpoint job as an Observation).
        local_gate = (
            F.lit(True) if cfg.depth == INFINITE_DEPTH
            else F.col("depth") < cfg.depth)
        ext_gate = (
            F.lit(True) if cfg.ext_depth == INFINITE_DEPTH
            else F.col("ext_depth") < cfg.ext_depth)
        gate_pred = ((~F.col("external") & local_gate)
                     | (F.col("external") & ext_gate))
        # The new-seen and next-frontier row counts ride the checkpoint's
        # materialization job as an Observation — no separate aggregation
        # job per superstep (the flat "rest" barrier the N->4N scaling
        # curve pays at every level). Live dict-mode robots observes the
        # next frontier's (base, host) pairs there too.
        fetch_url_col = F.split(F.col("url"), "#", 2).getItem(0)
        counts_obs = Observation(f"new_{step}")
        bases_obs = ([F.collect_set(F.when(
            gate_pred, _robots_base(fetch_url_col))).alias("bases")]
            if live_robots_rules is not None else [])
        new_urls = new_urls.observe(
            counts_obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(gate_pred.cast("long")).alias("gated"),
            *bases_obs)
        new_urls = new_urls.localCheckpoint(eager=True)
        t_cand = time.monotonic() - t_cand0
        counts = counts_obs.get
        if live_robots_rules is not None:
            robots_bases = [b for b in counts["bases"] if b.h is not None]

        next_frontier = (
            new_urls.filter(gate_pred)
            .select(
                "url",
                fetch_url_col.alias("fetch_url"),
                F.when(~F.col("external"), F.col("depth") + 1)
                .otherwise(F.col("depth")).alias("depth"),
                F.when(F.col("external"), F.col("ext_depth") + 1)
                .otherwise(F.col("ext_depth")).alias("ext_depth"),
                (F.col("superstep") + 1).alias("superstep"),
                "order_key",
            )
        )

        if deferred is not None:
            next_frontier = next_frontier.unionByName(deferred.withColumn(
                "superstep", F.col("superstep") + 1))

        # Commit the superstep. next_frontier is a cheap view over the
        # already-checkpointed new_urls (and the previous frontier's
        # deferred rows), so it needs its own materialization only when the
        # next superstep's budget can defer part of it: then that job ranks
        # it (the one window evaluation per superstep), and its row count
        # and deferred count ride it. Otherwise its count is the gated
        # count observed on the new_urls checkpoint plus the deferred rows —
        # zero extra jobs either way.
        frontier_count = int(counts["gated"] or 0)
        if cfg.host_budget is not None and (
                deferred_rows is None
                or frontier_count + deferred_rows > cfg.host_budget):
            next_frontier = frontier_ops.rank_host_budget(
                next_frontier, cfg.host_budget,
                salt_buckets=SKEW_SALT_BUCKETS,
                priority_expr=cfg.priority_expr)
            frontier_obs = Observation(f"frontier_{step}")
            next_frontier = next_frontier.observe(
                frontier_obs, F.count(F.lit(1)).alias("n"),
                F.sum((~F.col(frontier_ops.SELECTED)).cast("long"))
                .alias("deferred"))
            next_frontier = next_frontier.localCheckpoint(eager=True)
            frontier_count = int(frontier_obs.get["n"] or 0)
            frontier_deferred = int(frontier_obs.get["deferred"] or 0)
        else:
            frontier_count += deferred_rows
            frontier_deferred = None
        new_count = int(counts["n"] or 0)
        seen_count += new_count
        seen_delta = new_urls.select("url", "superstep")
        seen_deltas.append(seen_delta)
        pending_seen.append(seen_delta)
        seen = _union_all(seen_deltas)
        # Seen-delta compaction: the anti-join reads this lazy union, whose
        # plan grows one branch per superstep — at thousands of supersteps
        # the planning/serialization cost alone would dominate. Collapse the
        # union into ONE materialized table whenever it exceeds K deltas:
        # O(seen) once every K steps (amortized O(seen/K)), union width
        # capped at K, and the per-delta localCheckpoint blocks it replaces
        # become collectable. (The parquet checkpoint layout already has this
        # shape — step deltas + periodic manifests; this is the in-memory
        # twin.)
        if len(seen_deltas) > SEEN_COMPACT_INTERVAL:
            seen = seen.localCheckpoint(eager=True)
            seen_deltas = [seen]
        # Approximate mode: engage the bloom at the end of the superstep
        # whose seen count reaches the threshold (a resumed crawl's first
        # superstep therefore runs exact), then fold in each seen DELTA —
        # O(delta) per superstep, never a rebuild over the whole seen set.
        if (cfg.seen_sketch is not None and cfg.bloom_threshold is not None
                and seen_count >= cfg.bloom_threshold):
            if sketch is None:
                sketch = dedup_ops.BloomState(
                    "url", capacity=seen_count * dedup_ops.BloomState.GROWTH,
                    fpp=cfg.bloom_fpp)
                sketch.add(seen, seen_count)
            else:
                sketch.add(seen_delta, new_count, full_seen=seen)
        frontier = next_frontier

        # S9 log sink (logger.rs): verbose echoes every URL of the superstep
        # in canonical order on the driver — debug surface, off by default.
        if cfg.verbose:
            from .. import logger as logkit
            logkit.echo_superstep(_log_view(result_pq), step)

        wall = time.monotonic() - t0
        wall_times.append(wall)
        if ckpt is not None:
            ckpt.commit(
                step,
                frontier=frontier.drop(frontier_ops.SELECTED),
                seen_delta=_union_all(pending_seen),
                stats={"frontier_rows": frontier_count, "new_urls": new_count,
                       "wall_sec": wall},
            )
            pending_seen = []
        phase_times.append({
            "superstep": step,
            "fetch_parse_mirror": round(t_fetch, 3),
            "cand_dedup": round(t_cand, 3),
            "rest": round(wall - t_fetch - t_cand, 3),
            "codegen_compiles": _codegen_compiles(spark) - compiles0,
        })
        step += 1
        steps_run += 1

    if owns_pages_cache:
        # Nothing returned depends on the corpus cache (mirror, log and
        # metrics are parquet-backed; seen is checkpointed).
        fetch_pages.unpersist()

    store = (spark.read.schema(_result_store_schema()).parquet(*result_paths)
             if result_paths
             else local_frame(spark, [], _result_store_schema()))
    mirror = _mirror_view(store)
    metrics = _metrics_view(store, seen)

    # Canonical jobs=1 visit order (single window, finalize-only — the loop
    # itself never needs a global ordering).
    from pyspark.sql.window import Window
    w = Window.orderBy("superstep", "order_key")
    log = _log_view(store).withColumn(
        "visit_seq", F.row_number().over(w).cast("long")).select(
        "url", "depth", "ext_depth", "superstep", "order_key", "visit_seq",
        "downloaded", "status")

    return CrawlResult(
        mirror=mirror, crawl_log=log, seen=seen, metrics=metrics,
        supersteps=step, store=store, wall_times=wall_times,
        phase_times=phase_times,
        spill_dir=spill_dir, owns_spill_dir=cfg.checkpoint_dir is None,
    )


def _scan_is_bucketed(spark: SparkSession, fetch_pages: DataFrame) -> bool:
    """True iff the pages input exposes a url-bucketed layout the fetch join
    can reuse. The probe must be a JOIN plan: on a bare scan the planner
    reports ``Bucketed: false (disabled by query planner)`` because nothing
    requires the distribution — probing that (round-2 regression) made
    crawl() re-layout already-bucketed tables. Broadcast is disabled during
    planning so a small corpus can't hide its buckets behind a
    BroadcastHashJoin."""
    probe = local_frame(spark, [("",)], "fetch_url string")
    joined = probe.join(
        fetch_pages.select(F.col("url").alias("page_url")),
        on=F.col("fetch_url") == F.col("page_url"), how="left")
    with _sql_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        return "Bucketed: true" in _plan_string(joined)


@contextmanager
def _sql_conf(spark: SparkSession, key: str, value: str):
    """Set a runtime SQL conf for the block; restore the caller's value."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """Physical-plan text (what ``df.explain(mode)`` prints), as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def _symlink_target_col():
    """Relative target from the canonical path's directory to the
    content-disposition filename at the output root (disk.rs:35-65)."""
    # Count real directory components: Rust Path::components (and posixpath)
    # skip empty segments from doubled slashes.
    segs = F.filter(F.split(F.col("path"), "/"), lambda x: x != F.lit(""))
    depth = F.size(segs) - F.lit(1)
    ups = F.concat_ws("", F.array_repeat(F.lit("../"), depth))
    return F.concat(ups, F.col("filename"))


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, dfs)


def _result_path(spill_dir: str, step: int) -> str:
    """Where superstep ``step``'s result store lives."""
    return os.path.join(spill_dir, f"step={step:06d}", "result")


def _result_store_schema():
    """Per-superstep parquet store: PAGE_RESULT minus page_text (produced by
    the parse pass but consumed by nothing in the loop — storing it would
    roughly double the write bytes of an HTML-heavy superstep) plus the
    precomputed n_bytes, so the metrics never re-read content."""
    from pyspark.sql.types import LongType, StructField, StructType
    fields = [f for f in PAGE_RESULT_SCHEMA.fields if f.name != "page_text"]
    return StructType(fields + [StructField("n_bytes", LongType())])


#: the page stage's output once it has written the result store: only the
#: rows the driver's bookkeeping reads (errors, Set-Cookie responses)
STORE_SUMMARY_SCHEMA = "status string, fetch_url string, set_cookie string"


def _store_sink(path: str, dry_run: bool):
    """The page stage's tail: write the result store under ``path`` and
    pass on the summary rows. A dry run persists no page bytes anywhere."""
    schema = _result_store_schema()

    def sink(batches):
        with parquet_sink.PartitionFile(path, schema) as out:
            for pdf in batches:
                if dry_run:
                    pdf["content"] = None
                pdf["n_bytes"] = [0 if c is None else len(c)
                                  for c in pdf["content"]]
                out.write_pandas(pdf)
                keep = (pdf["status"] == "error") | pdf["set_cookie"].notna()
                if keep.any():
                    yield pdf.loc[keep, ["status", "fetch_url", "set_cookie"]]

    return sink


def _mirror_view(result_pq: DataFrame) -> DataFrame:
    """Mirror projection over result stores: the saved pages. content IS
    NULL marks dry-run rows, never a real saved page — 'ok' pages always
    carry bytes, empty 401 bodies included."""
    return (
        result_pq.filter(
            (F.col("status") == "ok") & F.col("download")
            & F.col("content").isNotNull())
        .select(
            "url", "path", "filename", "content", "superstep",
            F.when(F.col("filename").isNotNull(), _symlink_target_col())
            .alias("symlink_target"),
        )
    )


def _log_view(result: DataFrame) -> DataFrame:
    """Crawl-log projection over result stores (one row per visited url)."""
    return result.select(
        "url", "depth", "ext_depth", "superstep", "order_key",
        F.col("download").alias("downloaded"), "status")


def _metrics_view(result: DataFrame, seen: DataFrame) -> DataFrame:
    """METRICS_SCHEMA rollup per (superstep, host): pages, bytes and errors
    of the pages fetched from that host, and ``new_urls``, the seen rows a
    superstep discovered on that host (the seed row counts for superstep 0).
    A side with no row for a (superstep, host) counts 0."""
    pages = result.groupBy(
        "superstep", frontier_ops.host_col("fetch_url").alias("host")).agg(
        F.count("*").alias("pages"),
        F.sum("n_bytes").alias("bytes"),
        F.sum((F.col("status") == "error").cast("long")).alias("errors"))
    new = seen.groupBy(
        F.col("superstep").alias("new_step"),
        frontier_ops.host_col("url").alias("new_host")).agg(
        F.count("*").alias("new_urls"))
    joined = pages.join(
        new, (F.col("superstep") == F.col("new_step"))
        & F.col("host").eqNullSafe(F.col("new_host")), "full_outer")
    return joined.select(
        F.coalesce("superstep", "new_step").alias("superstep"),
        F.coalesce("host", "new_host").alias("host"),
        *[F.coalesce(c, F.lit(0).cast("long")).alias(c)
          for c in ("pages", "bytes", "errors", "new_urls")])


def _robots_base(url: Column) -> Column:
    """(base, h) of a fetch url: the ``scheme://authority`` its robots.txt
    lives under, and its host."""
    return F.struct(
        F.regexp_extract(url, "^(https?://[^/]+)", 1).alias("base"),
        frontier_ops.host_col(url).alias("h"))
