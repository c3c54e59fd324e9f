"""Crawl configuration — the engine's equivalent of the reference CLI surface.

Mirrors all 19 typed fields of the reference's ``Args`` (reference:
/root/reference/src/args.rs:8-162) plus the scale knobs the PySpark engine adds
(per-host politeness budgets, approximate bloom seen-set, checkpointing,
robots).

The config is a frozen value object: regex filters are compiled once on the
driver and the whole object is captured by the Arrow UDF closures (it is tiny,
so ordinary task serialization is the broadcast).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

from .functions import urlkit

#: args.depth == -1 means unbounded recursion (scraper.rs:30).
INFINITE_DEPTH = -1

AUTH_CHUNK_SIZE = 3  # downloader.rs:12


def parse_auth(auth: list[str], origin: str) -> tuple[str, str | None, str]:
    """Parse one ``user [pass [host]]`` auth chunk (downloader.rs:22-52):
    empty strings -> None; host defaults to the origin host; a missing/None
    username is an error."""
    vals = [s if s != "" else None for s in auth]
    origin_host = urlkit.url_host(origin)
    if len(vals) >= 1 and vals[0] is not None:
        username = vals[0]
        password = vals[1] if len(vals) >= 2 else None
        host = vals[2] if len(vals) >= 3 and vals[2] is not None else origin_host
        if host is None:
            raise ValueError("Invalid arguments supplied to auth")
        return (username, password, host)
    raise ValueError("Invalid arguments supplied to auth")


def build_auth_map(auth: list[str], origin: str) -> dict[str, tuple[str, str | None]]:
    """Chunk the flat auth list by 3 into host -> (user, pass) (downloader.rs:64-71)."""
    auth_map: dict[str, tuple[str, str | None]] = {}
    for i in range(0, len(auth), AUTH_CHUNK_SIZE):
        username, password, host = parse_auth(auth[i : i + AUTH_CHUNK_SIZE], origin)
        auth_map[host] = (username, password)
    return auth_map


@dataclass(frozen=True)
class CrawlConfig:
    """Whole-run crawl configuration (reference Args, args.rs:8-162)."""

    origin: str
    output: str | None = None
    jobs: int = 1                       # per-superstep parallelism hint
    depth: int = INFINITE_DEPTH         # local recursion depth; -1 = infinite
    ext_depth: int = 0                  # external-domain depth; -1 = infinite
    tries: int = 20
    delay: int = 0                      # politeness delay (seconds)
    random_range: int = 0
    user_agent: str = "suckit"
    cookie: str = ""
    include_visit: str = ".*"
    exclude_visit: str = "$^"
    include_download: str = ".*"
    exclude_download: str = "$^"
    visit_filter_is_download_filter: bool = False
    auth: tuple[str, ...] = ()
    continue_on_error: bool = False
    dry_run: bool = False
    disable_certs_checks: bool = False
    verbose: bool = False

    # ---- Engine extensions (BASELINE.json north_rule; no reference counterpart)
    #: cap on pages fetched per host per superstep (None = unlimited); excess
    #: frontier rows are deferred to the next superstep in stable order.
    host_budget: int | None = None
    #: honor robots.txt Disallow rules found in the pages table.
    respect_robots: bool = False
    #: seen-set dedup mode. None (default) = EXACT: the superstep's
    #: first-wins winners are left-anti joined against ``seen`` — the
    #: reference-parity contract; no sketch is built, probed or maintained
    #: (a sketch prefilter in front of the join was measured a loss: the
    #: join exchanges the whole seen side anyway, BENCH/BLOOM.md).
    #: "bloom" = APPROXIMATE (the 10^10-scale path): once seen reaches
    #: bloom_threshold, a range-partitioned, executor-built,
    #: broadcast-probed bloom filter ALONE decides membership —
    #: O(candidates) dedup with no shuffle of the seen side; a false
    #: positive drops a candidate (coverage loss bounded by bloom_fpp),
    #: never visits one twice.
    seen_sketch: str | None = None
    #: approximate mode only: seen count at which the bloom engages (built
    #: at the end of the superstep that reaches it; supersteps before that
    #: dedup exactly). None = never engage.
    bloom_threshold: int | None = 10_000
    #: approximate mode only: the bloom's target false-positive rate.
    bloom_fpp: float = 0.03
    #: frontier priority (north_rule "priority queue"): SQL expression over
    #: frontier columns (url, fetch_url, depth, ext_depth, superstep,
    #: order_key); higher fetches first within each host's budget, ties by
    #: canonical order_key. None = exact FIFO reference parity. Only
    #: meaningful with host_budget (an unbudgeted superstep fetches its whole
    #: frontier anyway).
    priority_expr: str | None = None
    #: fetch realization: False = deterministic corpus join (the sandbox /
    #: replay path); True = real HTTP GETs via operators/live_fetch.py
    #: (honors user_agent, cookie, auth, tries, disable_certs_checks,
    #: delay/random_range — reference downloader.rs:73-184).
    live_fetch: bool = False
    #: parquet-snapshot checkpoint directory (Iceberg-style atomic superstep
    #: commits with a JSON manifest); None = in-memory localCheckpoint only.
    checkpoint_dir: str | None = None
    #: safety valve for runaway crawls (tests/bench); None = unbounded.
    max_supersteps: int | None = None
    #: wall-clock budget (seconds): stop at the first superstep BOUNDARY
    #: after the budget elapses — the BSP realization of the reference
    #: benchmark protocol (tests/benchmark.py:21-77 runs the crawler for a
    #: fixed RUN_TIME then SIGINTs it and counts pages). At least one
    #: superstep always runs; completed supersteps are never discarded, so
    #: the result is a valid resumable prefix of the full crawl. None =
    #: unbounded.
    max_wall_sec: float | None = None

    def __post_init__(self):
        object.__setattr__(self, "origin", urlkit.canonical_origin(self.origin))
        if self.visit_filter_is_download_filter:
            # Filter aliasing (scraper.rs:52-56).
            object.__setattr__(self, "include_visit", self.include_download)
            object.__setattr__(self, "exclude_visit", self.exclude_download)
        # Validate regexes and auth eagerly (reference compiles at arg parse).
        for pat in (self.include_visit, self.exclude_visit,
                    self.include_download, self.exclude_download):
            re.compile(pat)
        build_auth_map(list(self.auth), self.origin)
        if self.seen_sketch not in (None, "bloom"):
            raise ValueError(f"seen_sketch must be None or 'bloom', "
                             f"not {self.seen_sketch!r}")

    # Compiled-once accessors (kept as methods so the dataclass stays picklable
    # without dragging compiled pattern objects through serialization).
    def visit_ok(self, raw_candidate: str) -> bool:
        """Visit filter on the *raw* candidate string (scraper.rs:352-369)."""
        if re.search(self.exclude_visit, raw_candidate) or not re.search(
            self.include_visit, raw_candidate
        ):
            return False
        return urlkit.visit_url_shape_ok(raw_candidate)

    def download_ok(self, url: str) -> bool:
        """Download filter on the resolved URL string (scraper.rs:238-239);
        gates persistence only — the page is fetched and parsed regardless."""
        return not re.search(self.exclude_download, url) and bool(
            re.search(self.include_download, url)
        )

    def auth_map(self) -> dict[str, tuple[str, str | None]]:
        return build_auth_map(list(self.auth), self.origin)

    def with_(self, **kw) -> "CrawlConfig":
        return replace(self, **kw)
