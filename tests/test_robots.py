"""robots.txt rules and the robots gate (north_rule extension)."""

from suckit_spark.config import CrawlConfig
from suckit_spark.operators.robots import parse_robots
from suckit_spark.plans.crawl import crawl
from suckit_spark.sources import fixtures


def test_parse_robots():
    content = """
# comment
User-agent: *
Disallow: /private/
Disallow: /tmp

User-agent: evilbot
Disallow: /
"""
    assert parse_robots(content) == ["/private/", "/tmp"]
    assert parse_robots("User-agent: evilbot\nDisallow: /") == []
    assert parse_robots("") == []


def _site_with_robots():
    index = (b'<html><body><a href="ok.html">ok</a>'
             b'<a href="private/secret.html">s</a></body></html>')
    return [
        fixtures._row("http://0.0.0.0/", index, "text/html"),
        fixtures._row("http://0.0.0.0/ok.html", b"<html></html>", "text/html"),
        fixtures._row("http://0.0.0.0/private/secret.html",
                      b"<html></html>", "text/html"),
        fixtures._row("http://0.0.0.0/robots.txt",
                      b"User-agent: *\nDisallow: /private/\n", "text/plain"),
    ]


def test_robots_blocks_disallowed(spark):
    rows = _site_with_robots()
    cfg = CrawlConfig(origin="http://0.0.0.0/", continue_on_error=True,
                      respect_robots=True)
    res = crawl(spark, cfg, fixtures.pages_df(spark, rows))
    visited = {r.url for r in res.crawl_log.collect()}
    assert "http://0.0.0.0/ok.html" in visited
    assert "http://0.0.0.0/private/secret.html" not in visited
    # blocked URL is not even in the seen set (eligible on future crawls)
    seen = {r.url for r in res.seen.collect()}
    assert "http://0.0.0.0/private/secret.html" not in seen


def test_robots_off_by_default(spark):
    rows = _site_with_robots()
    cfg = CrawlConfig(origin="http://0.0.0.0/", continue_on_error=True)
    res = crawl(spark, cfg, fixtures.pages_df(spark, rows))
    visited = {r.url for r in res.crawl_log.collect()}
    assert "http://0.0.0.0/private/secret.html" in visited


# ---------------------------------------------------------------- round 3

def test_parse_robots_agent_sections():
    content = """
User-agent: suckit
Disallow: /only-suckit/

User-agent: *
Disallow: /everyone/

User-agent: cratebot
User-agent: spiderling
Disallow: /crate/
"""
    # specific section wins over * when the token is a substring of the UA
    assert parse_robots(content, "suckit/2.0") == ["/only-suckit/"]
    # consecutive User-agent lines share one rule group
    assert parse_robots(content, "Mozilla-compatible SPIDERLING") == ["/crate/"]
    # no specific match -> the * group applies
    assert parse_robots(content, "otherbot") == ["/everyone/"]
    # anonymous probe (no UA) -> * group only
    assert parse_robots(content) == ["/everyone/"]
    # several matching specific groups union their rules
    multi = ("User-agent: suck\nDisallow: /a/\n\n"
             "User-agent: kit\nDisallow: /b/\n")
    assert parse_robots(multi, "suckit") == ["/a/", "/b/"]


def test_robots_join_gate_over_dict_frame(spark):
    """Unit level: the one robots gate, over the rules frame built from the
    driver dict, admits exactly the allowed urls — including urls
    ``java.net.URI`` rejects (a ``|`` in the path), ports, userinfo and
    fragments, which the gate must read as ``urlsplit`` does instead of
    raising."""
    from suckit_spark.operators import robots as robots_ops

    rows = _site_with_robots() + [
        fixtures._row("http://other.example/robots.txt",
                      b"User-agent: *\nDisallow: /x\n", "text/plain"),
    ]
    pages = fixtures.pages_df(spark, rows)
    allowed = {
        "http://0.0.0.0/ok.html",
        "http://0.0.0.0/",
        "http://0.0.0.0/ok|pipe.html",
        "http://other.example/y.html",
        "http://other.example",
        "http://norules.example/anything",
    }
    blocked = {
        "http://0.0.0.0/private/secret.html",
        "http://0.0.0.0/private/secret.html#frag",
        "http://0.0.0.0/private/a|b^c.html",
        "http://0.0.0.0:8080/private/port.html",
        "http://user@0.0.0.0/private/userinfo.html",
        "http://OTHER.example/x.html?q=1",
    }
    cands = spark.createDataFrame(
        [(u,) for u in sorted(allowed | blocked)], "url string")

    rules = robots_ops.rules_frame(
        spark, robots_ops.collect_robots_rules(pages, "suckit"))
    gated = robots_ops.apply_robots_join(cands, rules)
    assert {r.url for r in gated.collect()} == allowed
    assert gated.columns == cands.columns  # helper cols dropped


def test_crawl_superstep_plans_are_python_free(spark, monkeypatch):
    """The crawl's bookkeeping plans start no Python worker: the seen set
    (seed row included) has no Python RDD in its lineage, and the
    robots-gated candidate frame evaluates no Python UDF. The only Python
    stage of a corpus superstep is the page pipeline."""
    from suckit_spark.operators import dedup
    from suckit_spark.plans.crawl import _plan_string

    gated = []
    first_wins = dedup.first_wins

    def spy(cand, *a, **kw):
        gated.append(cand)
        return first_wins(cand, *a, **kw)

    monkeypatch.setattr(dedup, "first_wins", spy)
    rows = fixtures.site_a() + [fixtures._row(
        "http://0.0.0.0/robots.txt",
        b"User-agent: *\nDisallow: /file\n", "text/plain")]
    cfg = CrawlConfig(origin="http://0.0.0.0/", continue_on_error=True,
                      respect_robots=True)
    res = crawl(spark, cfg, fixtures.pages_df(spark, rows))
    try:
        seen = {r.url for r in res.seen.collect()}
        assert "http://0.0.0.0/jpeg.jpg" in seen
        assert "http://0.0.0.0/file.txt" not in seen
        lineage = res.seen._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage
        assert gated
        for cand in gated:
            plan = _plan_string(cand)
            assert "ArrowEvalPython" not in plan
            assert "BatchEvalPython" not in plan
    finally:
        res.close()


# --------------------------------------------------- Crawl-delay directive

def test_parse_crawl_delay_groups():
    from suckit_spark.operators.robots import parse_crawl_delay

    txt = ("User-agent: *\nCrawl-delay: 2\nDisallow: /x\n\n"
           "User-agent: suckit\nCrawl-delay: 0.5\n")
    assert parse_crawl_delay(txt, "suckit/1.0") == 0.5   # specific wins
    assert parse_crawl_delay(txt, "otherbot") == 2.0     # * fallback
    assert parse_crawl_delay("User-agent: *\nDisallow: /x\n", "ua") is None
    # unparsable / negative values are ignored
    assert parse_crawl_delay(
        "User-agent: *\nCrawl-delay: soon\n", "ua") is None
    assert parse_crawl_delay(
        "User-agent: *\nCrawl-delay: -3\n", "ua") is None
    # multiple applicable groups: the strictest (max) applies
    two = ("User-agent: a\nCrawl-delay: 1\n\n"
           "User-agent: b\nCrawl-delay: 4\n")
    assert parse_crawl_delay(two, "a-and-b") == 4.0


def test_politeness_sleep_honors_host_delay():
    import time as _time

    from suckit_spark.config import CrawlConfig
    from suckit_spark.operators.live_fetch import politeness_sleep

    cfg = CrawlConfig(origin="http://h/", delay=0)
    t0 = _time.monotonic()
    slept = politeness_sleep(cfg, "http://h/p.html", host_delay=0.2)
    assert slept == 0.2 and _time.monotonic() - t0 >= 0.2
    # stricter of cfg.delay and host delay wins
    assert politeness_sleep(cfg.with_(delay=0), "u", host_delay=0.0) == 0.0


def test_live_crawl_applies_crawl_delay(spark):
    """robots Crawl-delay spaces the live fetch's requests: the same 3-page
    site crawled with a 0.6 s per-request delay receives every page request
    >= 0.6 s after the request before it, while without the directive the
    two leaf pages (one superstep, one worker with jobs=1) arrive back to
    back. Arrival times are taken at the server, so the check measures the
    politeness sleep, not Spark's per-crawl overhead."""
    import threading
    import time as _time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from suckit_spark.plans.crawl import crawl as _crawl
    from suckit_spark.schemas import PAGES_SCHEMA

    def handler(delay_line: bytes, arrivals: list):
        class _H(BaseHTTPRequestHandler):
            def do_GET(self):
                arrivals.append((self.path, _time.monotonic()))
                if self.path == "/robots.txt":
                    body = b"User-agent: *\n" + delay_line
                elif self.path == "/index.html":
                    body = (b'<html><body><a href="a.html">a</a>'
                            b'<a href="b.html">b</a></body></html>')
                else:
                    body = b"<html><body>leaf</body></html>"
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass
        return _H

    gaps = {}
    for name, line in (("plain", b"Disallow: /none\n"),
                       ("delayed", b"Crawl-delay: 0.6\n")):
        arrivals: list = []
        srv = ThreadingHTTPServer(("127.0.0.1", 0), handler(line, arrivals))
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            base = f"http://127.0.0.1:{srv.server_address[1]}"
            cfg = CrawlConfig(origin=f"{base}/index.html", live_fetch=True,
                              respect_robots=True, continue_on_error=True,
                              jobs=1)
            res = _crawl(spark, cfg,
                         spark.createDataFrame([], PAGES_SCHEMA))
            assert res.crawl_log.count() == 3
            res.close()
        finally:
            srv.shutdown()
            srv.server_close()
        arrivals.sort(key=lambda a: a[1])
        assert [p for p, _ in arrivals[:2]] == ["/robots.txt", "/index.html"]
        assert sorted(p for p, _ in arrivals[2:]) == ["/a.html", "/b.html"]
        # the gap before each page request, in arrival order: index, then
        # the two leaves (the last gap is leaf -> leaf in one worker loop)
        gaps[name] = [t - arrivals[i][1]
                      for i, (_, t) in enumerate(arrivals[1:])]
    assert all(g >= 0.6 for g in gaps["delayed"]), gaps
    assert gaps["plain"][-1] < 0.6, gaps
