"""Pure-Python predictions of what each crawl workload must produce.

The synthetic corpus (``suckit_spark.sources.corpus``) and the loopback site
(``suckit_spark.sources.loopback``) build their links with closed-form
arithmetic, so the crawl's visited set, its fetch errors and its superstep
count can be derived without Spark. The benchmark uses these predictions two
ways: to check each timed crawl's output, and to pick, from ``--seed``, a link
graph whose crawl has the workload's fixed superstep count, so that every seed
asks the engine for the same amount of barrier work.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CorpusShape:
    hosts: int
    pages_per_host: int
    fanout: int
    mega_factor: int
    supersteps: int          # the superstep count every chosen seed must give
    bloom_threshold: int     # CrawlConfig.bloom_threshold
    bloom_step: int          # the superstep whose end must first reach it

    def host_pages(self, h: int) -> int:
        return self.pages_per_host * (self.mega_factor if h == 0 else 1)

    @property
    def pages(self) -> int:
        return sum(self.host_pages(h) for h in range(self.hosts))


@dataclass(frozen=True)
class CorpusCrawl:
    seed: int
    visited: int
    errors: int
    supersteps: int
    seen_after: tuple        # URLs seen at the end of each superstep


def corpus_bfs(shape: CorpusShape, seed: int) -> CorpusCrawl:
    """BFS over ``corpus.page_body``'s link arithmetic from h0/p0.

    Page j of host h links same-host pages ``(j*k + k + seed) % P_h`` for
    k = 1..fanout and page ``(j*7 + seed) % P_h`` of host
    ``(h + j + 1) % hosts``. A cross-host target past the target host's page
    count is absent from the corpus: it is visited as a fetch error and
    yields no links."""
    sizes = [shape.host_pages(h) for h in range(shape.hosts)]
    start = (0, 0)
    seen = {start}
    frontier = [start]
    visited = errors = levels = 0
    seen_after = []
    while frontier:
        levels += 1
        nxt = []
        for h, j in frontier:
            visited += 1
            if j >= sizes[h]:
                errors += 1
                continue
            p = sizes[h]
            targets = [(h, (j * k + k + seed) % p)
                       for k in range(1, shape.fanout + 1)]
            targets.append(((h + j + 1) % shape.hosts, (j * 7 + seed) % p))
            for t in targets:
                if t not in seen:
                    seen.add(t)
                    nxt.append(t)
        frontier = nxt
        seen_after.append(len(seen))
    return CorpusCrawl(seed, visited, errors, levels, tuple(seen_after))


def pick_corpus_seed(shape: CorpusShape, seed: int) -> CorpusCrawl:
    """First link-graph seed at or after ``seed * 7`` whose crawl has
    ``shape.supersteps`` supersteps and builds the bloom sketch at the end
    of superstep ``shape.bloom_step``. (Link targets depend on the seed
    modulo the host sizes, so nearby seeds already give distinct graphs.)"""
    b = shape.bloom_step
    for cand in range(seed * 7, seed * 7 + 1000):
        got = corpus_bfs(shape, cand)
        if (got.supersteps == shape.supersteps
                and got.seen_after[b - 2] < shape.bloom_threshold
                <= got.seen_after[b - 1]):
            return got
    raise ValueError(f"no corpus seed near {seed} gives "
                     f"{shape.supersteps} supersteps")


@dataclass(frozen=True)
class SiteShape:
    pages: int
    fanout: int
    budget: int              # CrawlConfig.host_budget
    disallow: str            # the one robots.txt Disallow prefix
    supersteps: int

    def allowed(self, j: int) -> bool:
        return not f"/p{j}.html".startswith(self.disallow)


@dataclass(frozen=True)
class SiteCrawl:
    seed: int
    visited: int
    supersteps: int
    deferred: int            # frontier rows pushed to a later superstep


def site_crawl(shape: SiteShape, seed: int) -> SiteCrawl:
    """Simulate the budgeted live crawl of ``loopback.site_paths``.

    Page j links ``(j*k + k + seed) % pages`` at link position k-1. Each
    superstep fetches the ``budget`` frontier rows with the smallest
    order_key (parent key + [position]) and defers the rest; candidates keep
    the smallest key per URL, disallowed ones are dropped before they are
    seen."""
    frontier = [((0,), 0)]          # (order_key, page)
    seen = {0}
    visited = steps = deferred = 0
    while frontier:
        steps += 1
        frontier.sort()
        selected, rest = frontier[:shape.budget], frontier[shape.budget:]
        deferred += len(rest)
        visited += len(selected)
        best: dict[int, tuple] = {}
        for key, j in selected:
            for k in range(1, shape.fanout + 1):
                t = (j * k + k + seed) % shape.pages
                if not shape.allowed(t):
                    continue
                ck = key + (k - 1,)
                if t not in best or ck < best[t]:
                    best[t] = ck
        new = [(ck, t) for t, ck in best.items() if t not in seen]
        seen.update(t for _, t in new)
        frontier = new + rest
    return SiteCrawl(seed, visited, steps, deferred)


def pick_site_seed(shape: SiteShape, seed: int) -> SiteCrawl:
    """First site seed at or after ``seed * 7`` whose crawl reaches every
    allowed page in ``shape.supersteps`` supersteps and defers some rows."""
    n_allowed = sum(shape.allowed(j) for j in range(shape.pages))
    for cand in range(seed * 7, seed * 7 + 1000):
        got = site_crawl(shape, cand)
        if (got.visited == n_allowed and got.supersteps == shape.supersteps
                and got.deferred > 0):
            return got
    raise ValueError(f"no site seed near {seed} gives {shape.supersteps} "
                     "supersteps with every allowed page reached")
