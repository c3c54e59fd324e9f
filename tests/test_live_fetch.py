"""Live HTTP fetch mode (operators/live_fetch.py; reference
downloader.rs:73-184).

Unit level: request builder (UA/cookie/host-scoped auth), TLS opt-out,
retry loop — all offline with an injected opener. End-to-end: a loopback
``ThreadingHTTPServer`` serves a deterministic site; the live crawl must
equal the corpus-join crawl of the same site byte-for-byte. No external
network is ever touched.
"""

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from suckit_spark.config import CrawlConfig
from suckit_spark.operators import live_fetch
from suckit_spark.plans.crawl import crawl
from suckit_spark.schemas import PAGES_SCHEMA


# ---------------------------------------------------------------- unit level

def test_build_request_headers():
    cfg = CrawlConfig(origin="http://h.example/", user_agent="suckit",
                      cookie="k=v; s=1",
                      auth=("alice", "secret", "h.example"))
    req = live_fetch.build_request(cfg, "http://h.example/p.html")
    assert req.get_header("User-agent") == "suckit"
    assert req.get_header("Cookie") == "k=v; s=1"
    # bas64("alice:secret") — credentials go ONLY to the matching host
    assert req.get_header("Authorization") == "Basic YWxpY2U6c2VjcmV0"
    other = live_fetch.build_request(cfg, "http://other.example/p.html")
    assert other.get_header("Authorization") is None
    assert other.get_header("Cookie") == "k=v; s=1"


def test_build_request_auth_defaults_to_origin_host():
    cfg = CrawlConfig(origin="http://h.example/", auth=("bob", "", ""))
    req = live_fetch.build_request(cfg, "http://h.example/x")
    # empty password -> "bob:" (downloader.rs:66-69)
    assert req.get_header("Authorization") == "Basic Ym9iOg=="


def test_ssl_context_flags():
    import ssl
    strict = live_fetch.make_ssl_context(CrawlConfig(origin="http://h/"))
    assert strict.verify_mode == ssl.CERT_REQUIRED and strict.check_hostname
    lax = live_fetch.make_ssl_context(
        CrawlConfig(origin="http://h/", disable_certs_checks=True))
    assert lax.verify_mode == ssl.CERT_NONE and not lax.check_hostname


def test_fetch_one_retries_then_succeeds():
    calls = []

    def opener(req):
        calls.append(req.full_url)
        if len(calls) < 3:
            raise ConnectionError("transient")
        return 200, {"Content-Type": "text/html"}, b"<html>ok</html>"

    cfg = CrawlConfig(origin="http://h.example/", tries=3)
    got = live_fetch.fetch_one(cfg, "http://h.example/p.html", opener=opener)
    assert got["found"] and got["status"] == 200
    assert got["html"] == b"<html>ok</html>"
    assert len(calls) == 3


def test_fetch_one_exhausts_tries():
    def opener(req):
        raise ConnectionError("down")

    cfg = CrawlConfig(origin="http://h.example/", tries=4)
    got = live_fetch.fetch_one(cfg, "http://h.example/p.html", opener=opener)
    assert not got["found"] and got["status"] == 0
    assert "ConnectionError" in got["error"]


def test_http_error_status_is_a_response_not_a_retry():
    calls = []

    def opener(req):
        calls.append(1)
        return 401, {"Content-Type": "text/html"}, b"denied"

    cfg = CrawlConfig(origin="http://h.example/", tries=5)
    got = live_fetch.fetch_one(cfg, "http://h.example/p.html", opener=opener)
    assert got["found"] and got["status"] == 401 and got["html"] == b"denied"
    assert len(calls) == 1  # no retry on an HTTP status


def test_politeness_sleep_deterministic():
    cfg = CrawlConfig(origin="http://h/", delay=0, random_range=1)
    a = live_fetch.politeness_sleep(cfg, "http://h/p1.html")
    b = live_fetch.politeness_sleep(cfg, "http://h/p1.html")
    assert a == b and 0 <= a < 1
    assert live_fetch.politeness_sleep(
        CrawlConfig(origin="http://h/"), "http://h/p1.html") == 0


# ---------------------------------------------------- loopback end-to-end

def _make_site(base: str) -> dict[str, bytes]:
    return {
        "/index.html": (
            "<html><body><p>root</p>"
            '<a href="a.html">a</a> <a href="b.html#s">b</a> '
            '<a href="http://ext.example/x.html">ext</a>'
            "</body></html>").encode(),
        "/a.html": (
            '<html><body><a href="index.html">up</a>'
            "<p>leaf a</p></body></html>").encode(),
        "/b.html": b"<html><body><p>leaf b</p></body></html>",
    }


class _SiteHandler(BaseHTTPRequestHandler):
    site: dict[str, bytes] = {}
    seen_headers: list[dict] = []

    def do_GET(self):
        type(self).seen_headers.append(dict(self.headers))
        body = self.site.get(self.path)
        if body is None:
            self.send_response(404)
            self.send_header("Content-Type", "text/html")
            self.end_headers()
            self.wfile.write(b"<html>404</html>")
            return
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture()
def site_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    _SiteHandler.site = _make_site("")
    _SiteHandler.seen_headers = []
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        srv.server_close()


def _pages_rows(base: str) -> list[dict]:
    site = _make_site(base)
    return [
        {"url": f"{base}{path}", "warc_ts": None, "html": body, "text": None,
         "lang": None, "content_type": "text/html",
         "content_disposition": None, "requires_auth": False,
         "auth_user": None, "auth_pass": None, "status": 200}
        for path, body in site.items()
    ]


def test_live_crawl_matches_corpus_crawl(spark, site_server):
    base = site_server
    cfg = CrawlConfig(origin=f"{base}/index.html", continue_on_error=True,
                      user_agent="suckit-test", cookie="sid=42")
    corpus_pages = spark.createDataFrame(_pages_rows(base), PAGES_SCHEMA)
    expected = crawl(spark, cfg, corpus_pages)
    empty_pages = spark.createDataFrame([], PAGES_SCHEMA)
    live = crawl(spark, cfg.with_(live_fetch=True), empty_pages)

    exp_log = [(r.url, r.status) for r in
               expected.crawl_log.orderBy("visit_seq").collect()]
    live_log = [(r.url, r.status) for r in
                live.crawl_log.orderBy("visit_seq").collect()]
    assert live_log == exp_log
    assert ({r.url for r in live.seen.collect()}
            == {r.url for r in expected.seen.collect()})
    exp_bytes = {r.path: bytes(r.content) for r in expected.mirror.collect()}
    live_bytes = {r.path: bytes(r.content) for r in live.mirror.collect()}
    assert live_bytes == exp_bytes

    # the client surface actually reached the wire
    hdrs = _SiteHandler.seen_headers
    assert hdrs and all(h.get("User-Agent") == "suckit-test" for h in hdrs)
    assert all(h.get("Cookie") == "sid=42" for h in hdrs)
    expected.close()
    live.close()


def test_live_robots_blocks_disallowed(spark, site_server):
    base = site_server
    _SiteHandler.site = dict(_make_site(base))
    _SiteHandler.site["/robots.txt"] = b"User-agent: *\nDisallow: /a.html\n"
    try:
        cfg = CrawlConfig(origin=f"{base}/index.html", continue_on_error=True,
                          respect_robots=True)
        live = crawl(spark, cfg.with_(live_fetch=True),
                     spark.createDataFrame([], PAGES_SCHEMA))
        seen = {r.url for r in live.seen.collect()}
        assert f"{base}/a.html" not in seen          # disallowed: never enqueued
        assert f"{base}/b.html#s" in seen            # sibling still crawled
                                                     # (seen keys keep fragments)
        # robots.txt itself requested exactly once
        paths = [h.get("Host") for h in _SiteHandler.seen_headers]
        assert paths  # server saw traffic
    finally:
        _SiteHandler.site = _make_site(base)


def test_live_jobs_partitioning(spark, site_server):
    """jobs=1 (reference default) serializes the fetch stage into one task."""
    base = site_server
    from suckit_spark.operators import live_fetch as lf
    frontier = spark.createDataFrame(
        [(f"{base}/index.html", f"{base}/index.html", 0, 0, 0, [0]),
         (f"{base}/a.html", f"{base}/a.html", 0, 0, 0, [1])],
        "url string, fetch_url string, depth int, ext_depth int, "
        "superstep int, order_key array<long>")
    cfg = CrawlConfig(origin=f"{base}/index.html", jobs=1)
    out = lf.fetch_partitions(frontier, cfg).mapInPandas(
        lf.make_fetch(cfg), lf.FETCHED_SCHEMA)
    assert out.rdd.getNumPartitions() == 1
    assert out.count() == 2


def test_live_fetch_starts_no_empty_tasks(spark, site_server):
    """A frontier smaller than ``jobs`` fetches in one task per row at
    most: a 1-row frontier with jobs=4 runs one fetch partition, not three
    empty ones beside it (the crawl passes the frontier's known count)."""
    base = site_server
    from suckit_spark.operators import live_fetch as lf
    frontier = spark.createDataFrame(
        [(f"{base}/index.html", f"{base}/index.html", 0, 0, 0, [0])],
        "url string, fetch_url string, depth int, ext_depth int, "
        "superstep int, order_key array<long>")
    cfg = CrawlConfig(origin=f"{base}/index.html", jobs=4)
    one = lf.fetch_partitions(frontier, cfg, rows=1)
    assert one.rdd.getNumPartitions() == 1
    assert lf.fetch_partitions(frontier, cfg).rdd.getNumPartitions() == 4
    fetched = one.mapInPandas(lf.make_fetch(cfg), lf.FETCHED_SCHEMA)
    assert [(r.status, r.found) for r in fetched.collect()] == [(200, True)]


def test_live_write_plan_runs_one_python_stage(spark, site_server,
                                               monkeypatch):
    """A live superstep fetches, parses and writes its result store in ONE
    Arrow stage: the plan of the superstep's write job holds exactly one
    MapInPandas (the HTTP fetch composed with the page pipeline and the
    store sink), so each fetch task runs one Python worker. Without a
    checkpoint dir the result stores are the crawl's only writes."""
    from pyspark.sql.readwriter import DataFrameWriter

    from suckit_spark.plans.crawl import _plan_string

    plans = []
    save = DataFrameWriter.save

    def spy(self, *a, **kw):
        plans.append(_plan_string(self._df, "simple"))
        return save(self, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "save", spy)
    cfg = CrawlConfig(origin=f"{site_server}/index.html",
                      continue_on_error=True, live_fetch=True)
    res = crawl(spark, cfg, spark.createDataFrame([], PAGES_SCHEMA))
    res.close()
    assert len(plans) == res.supersteps > 1
    for plan in plans:
        assert plan.count("MapInPandas") == 1, plan


# ------------------------------------------------- cookie jar (A3, round 3)

class _CookieHandler(BaseHTTPRequestHandler):
    """Sets a session cookie on every response; records Cookie headers."""
    site: dict[str, bytes] = {}
    seen: list[tuple[str, str | None]] = []

    def do_GET(self):
        type(self).seen.append((self.path, self.headers.get("Cookie")))
        body = self.site.get(self.path, b"<html>404</html>")
        self.send_response(200 if self.path in self.site else 404)
        self.send_header("Content-Type", "text/html")
        self.send_header("Set-Cookie", "sess=abc42; Path=/")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture()
def cookie_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _CookieHandler)
    _CookieHandler.site = _make_site("")
    _CookieHandler.seen = []
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        srv.server_close()


def test_cookie_jar_accumulates_across_requests(cookie_server):
    """Request 2 carries the cookie request 1's response set (reference
    cookie_store(true), downloader.rs:73-83)."""
    from suckit_spark.operators.live_fetch import _default_opener

    cfg = CrawlConfig(origin=f"{cookie_server}/index.html")
    opener = _default_opener(cfg)
    live_fetch.fetch_one(cfg, f"{cookie_server}/index.html", opener=opener)
    live_fetch.fetch_one(cfg, f"{cookie_server}/a.html", opener=opener)
    assert _CookieHandler.seen[0] == ("/index.html", None)
    assert _CookieHandler.seen[1] == ("/a.html", "sess=abc42")


def test_static_cookie_header_wins_over_jar(cookie_server):
    """cfg.cookie is an explicit header; the jar never overwrites it
    (CookieJar.add_cookie_header skips requests that already carry one)."""
    from suckit_spark.operators.live_fetch import _default_opener

    cfg = CrawlConfig(origin=f"{cookie_server}/index.html", cookie="sid=42")
    opener = _default_opener(cfg)
    live_fetch.fetch_one(cfg, f"{cookie_server}/index.html", opener=opener)
    live_fetch.fetch_one(cfg, f"{cookie_server}/a.html", opener=opener)
    assert [c for _, c in _CookieHandler.seen] == ["sid=42", "sid=42"]


def test_cookie_jar_in_fetch_stage(spark, cookie_server):
    """Executor-side: within one fetch stage (jobs=1 -> one opener), exactly
    the first request goes out cookie-less; every later one carries the
    session cookie, whatever order the rows arrive in."""
    base = cookie_server
    frontier = spark.createDataFrame(
        [(f"{base}/index.html",) * 2 + (0, 0, 0, [0]),
         (f"{base}/a.html",) * 2 + (0, 0, 0, [1]),
         (f"{base}/b.html",) * 2 + (0, 0, 0, [2])],
        "url string, fetch_url string, depth int, ext_depth int, "
        "superstep int, order_key array<long>")
    cfg = CrawlConfig(origin=f"{base}/index.html", jobs=1)
    out = live_fetch.fetch_partitions(frontier, cfg).mapInPandas(
        live_fetch.make_fetch(cfg), live_fetch.FETCHED_SCHEMA)
    assert out.count() == 3
    cookies = [c for _, c in _CookieHandler.seen]
    assert cookies[0] is None
    assert cookies[1:] == ["sess=abc42", "sess=abc42"]


def test_cookie_jar_persists_across_crawl_supersteps(spark, cookie_server):
    """End-to-end: the driver's cookie relay carries the session cookie
    minted by superstep 0's response into the requests of later
    supersteps."""
    base = cookie_server
    cfg = CrawlConfig(origin=f"{base}/index.html", continue_on_error=True,
                      live_fetch=True, jobs=1)
    from suckit_spark.schemas import PAGES_SCHEMA
    res = crawl(spark, cfg, spark.createDataFrame([], PAGES_SCHEMA))
    assert res.crawl_log.count() >= 3
    res.close()
    by_path = {p: c for p, c in _CookieHandler.seen}
    assert by_path["/index.html"] is None        # first request: no cookie yet
    assert by_path["/a.html"] == "sess=abc42"    # superstep 1 carries it
    assert by_path["/b.html"] == "sess=abc42"


# -------------------------- connection reuse (round 4, reference parity:
# reqwest's blocking Client pools keep-alive connections, downloader.rs:73-87)

def test_connection_reuse_single_host():
    """N sequential requests to one keep-alive host ride ONE TCP connection
    (server-side accept count) — urllib's stock handlers forced
    Connection: close and paid a handshake per page."""
    from suckit_spark.operators.live_fetch import _default_opener
    from suckit_spark.sources.loopback import LoopbackSite

    site = LoopbackSite(n_pages=8, fanout=2)
    with site as base:
        cfg = CrawlConfig(origin=f"{base}/p0.html")
        opener = _default_opener(cfg)
        try:
            for j in range(8):
                got = live_fetch.fetch_one(cfg, f"{base}/p{j}.html",
                                           opener=opener)
                assert got["found"] and got["status"] == 200
        finally:
            opener.pool.close()
    assert site.requests_served == 8
    assert site.connections_opened == 1


def test_connection_pool_respects_server_close():
    """A server that answers Connection: close (the HTTP/1.0 test handlers
    here) gets a fresh connection per request — the pool evicts on
    will_close instead of writing into a dead socket."""
    from suckit_spark.operators.live_fetch import _default_opener

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    _SiteHandler.site = _make_site("")
    _SiteHandler.seen_headers = []
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(origin=f"{base}/index.html")
        opener = _default_opener(cfg)
        try:
            for path in ("/index.html", "/a.html", "/b.html"):
                got = live_fetch.fetch_one(cfg, f"{base}{path}", opener=opener)
                assert got["found"] and got["status"] == 200
        finally:
            opener.pool.close()
    finally:
        srv.shutdown()
        srv.server_close()


def test_connection_pool_recovers_stale_socket():
    """A pooled socket the server closed between requests (keep-alive
    timeout, restart) must surface as one transparent retry on a fresh
    connection, not a failed fetch."""
    from suckit_spark.operators.live_fetch import _default_opener
    from suckit_spark.sources.loopback import LoopbackSite

    site = LoopbackSite(n_pages=4, fanout=1)
    with site as base:
        cfg = CrawlConfig(origin=f"{base}/p0.html")
        opener = _default_opener(cfg)
        try:
            assert live_fetch.fetch_one(cfg, f"{base}/p0.html",
                                        opener=opener)["found"]
            # Deterministic staleness: close the cached client-side socket
            # behind the pool's back (same symptom as a server keep-alive
            # timeout — the next write/read on it fails).
            pool = opener.pool
            assert pool._conns
            for c in pool._conns.values():
                if c.sock is not None:
                    c.sock.close()
            got = live_fetch.fetch_one(cfg, f"{base}/p1.html", opener=opener)
            assert got["found"] and got["status"] == 200
        finally:
            opener.pool.close()


def _self_signed_cert(tmp_path):
    """(certfile, keyfile) for 127.0.0.1, generated in-process. Skips when
    the optional ``cryptography`` package is absent (not part of the engine's
    dependency set — TLS loopback is test-only plumbing)."""
    pytest.importorskip("cryptography")
    import datetime
    import ipaddress

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name(
        [x509.NameAttribute(NameOID.COMMON_NAME, "127.0.0.1")])
    now = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name).issuer_name(name).public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now)
        .not_valid_after(now + datetime.timedelta(days=36500))
        .add_extension(x509.SubjectAlternativeName(
            [x509.IPAddress(ipaddress.IPv4Address("127.0.0.1"))]),
            critical=False)
        .sign(key, hashes.SHA256()))
    certfile = tmp_path / "cert.pem"
    keyfile = tmp_path / "key.pem"
    certfile.write_bytes(cert.public_bytes(serialization.Encoding.PEM))
    keyfile.write_bytes(key.private_bytes(
        serialization.Encoding.PEM, serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption()))
    return str(certfile), str(keyfile)


def test_connection_reuse_https(tmp_path):
    """The pooled HTTPS handler over real TLS: one TCP connection for N
    requests (self-signed loopback cert, client opts out of verification
    via disable_certs_checks — the reference's --disable-certs-checks
    surface)."""
    from suckit_spark.operators.live_fetch import _default_opener
    from suckit_spark.sources.loopback import LoopbackSite

    site = LoopbackSite(n_pages=6, fanout=2,
                        tls_cert=_self_signed_cert(tmp_path))
    with site as base:
        assert base.startswith("https://")
        cfg = CrawlConfig(origin=f"{base}/p0.html",
                          disable_certs_checks=True)
        opener = _default_opener(cfg)
        try:
            for j in range(6):
                got = live_fetch.fetch_one(cfg, f"{base}/p{j}.html",
                                           opener=opener)
                assert got["found"] and got["status"] == 200
        finally:
            opener.pool.close()
    assert site.requests_served == 6
    assert site.connections_opened == 1


def test_https_silent_client_does_not_stall_others(tmp_path):
    """A TCP client that connects to the TLS loopback site and never sends
    a handshake must not block the next client: the handshake runs on the
    connection's handler thread, not on the accept loop."""
    import http.client
    import socket
    import ssl
    import time as _time

    from suckit_spark.sources.loopback import LoopbackSite

    site = LoopbackSite(n_pages=2, fanout=1,
                        tls_cert=_self_signed_cert(tmp_path))
    with site as base:
        port = int(base.rsplit(":", 1)[1])
        silent = socket.create_connection(("127.0.0.1", port))
        try:
            _time.sleep(0.3)  # let the accept loop take the silent client
            ctx = ssl.create_default_context()
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
            conn = http.client.HTTPSConnection(
                "127.0.0.1", port, timeout=5, context=ctx)
            try:
                conn.request("GET", "/p0.html")
                assert conn.getresponse().status == 200
            finally:
                conn.close()
        finally:
            silent.close()


def test_https_stale_tls_socket_recovers(tmp_path):
    """A pooled TLS socket closed behind the pool's back (server keep-alive
    timeout) must surface as one transparent retry on a fresh TLS
    connection."""
    from suckit_spark.operators.live_fetch import _default_opener
    from suckit_spark.sources.loopback import LoopbackSite

    site = LoopbackSite(n_pages=4, fanout=1,
                        tls_cert=_self_signed_cert(tmp_path))
    with site as base:
        cfg = CrawlConfig(origin=f"{base}/p0.html",
                          disable_certs_checks=True)
        opener = _default_opener(cfg)
        try:
            assert live_fetch.fetch_one(cfg, f"{base}/p0.html",
                                        opener=opener)["found"]
            pool = opener.pool
            assert pool._conns
            for c in pool._conns.values():
                if c.sock is not None:
                    c.sock.close()
            got = live_fetch.fetch_one(cfg, f"{base}/p1.html", opener=opener)
            assert got["found"] and got["status"] == 200
        finally:
            opener.pool.close()
    assert site.connections_opened == 2


# ------------------------ relay cookie semantics (round 4, ADVICE items)

def test_relay_secure_cookie_never_rendered_for_http():
    store: dict = {}
    live_fetch.merge_set_cookie_lines(
        store, "h", "sid=s3cret; Secure; Path=/\nplain=1; Path=/")
    rendered = live_fetch.render_cookie_headers(store)
    assert rendered["h"]["https"] == "sid=s3cret; plain=1"
    assert rendered["h"]["http"] == "plain=1"
    store2: dict = {}
    live_fetch.merge_set_cookie_lines(store2, "h", "only=sec; Secure")
    assert "http" not in live_fetch.render_cookie_headers(store2)["h"]


def test_relay_deletion_evicts():
    store: dict = {}
    live_fetch.merge_set_cookie_lines(store, "h", "sid=abc; Path=/")
    live_fetch.merge_set_cookie_lines(store, "h", "sid=gone; Max-Age=0")
    assert store["h"] == {}


def test_relay_deletion_max_age_beats_expires():
    """RFC 6265 §5.3 step 3: a valid Max-Age wins over Expires regardless
    of attribute order — 'Expires=<past>; Max-Age=3600' is a LIVE cookie,
    'Max-Age=0; Expires=<future>' is a deletion. A repeated attribute
    counts by its last valid occurrence."""
    past = "Thu, 01 Jan 1970 00:00:00 GMT"
    future = "Fri, 01 Jan 2100 00:00:00 GMT"
    assert not live_fetch._cookie_is_deletion(
        [f" Expires={past}", " Max-Age=3600"])
    assert live_fetch._cookie_is_deletion(
        [" Max-Age=0", f" Expires={future}"])
    # invalid Max-Age falls back to Expires
    assert live_fetch._cookie_is_deletion(
        [" Max-Age=soon", f" Expires={past}"])
    assert not live_fetch._cookie_is_deletion(
        [" Max-Age=soon", f" Expires={future}"])
    # a repeated attribute: the LAST occurrence counts (RFC 6265 §5.3)
    assert live_fetch._cookie_is_deletion([" Max-Age=3600", " Max-Age=0"])
    assert live_fetch._cookie_is_deletion(
        [f" Expires={future}", f" Expires={past}"])
    assert not live_fetch._cookie_is_deletion([" Max-Age=0", " Max-Age=60"])
    # live store semantics end-to-end
    store: dict = {}
    live_fetch.merge_set_cookie_lines(store, "h", "sid=abc")
    live_fetch.merge_set_cookie_lines(
        store, "h", f"sid=keep; Expires={past}; Max-Age=3600")
    assert store["h"]["sid"][0] == "keep"
    live_fetch.merge_set_cookie_lines(store, "h", "sid=back; Max-Age=60")
    live_fetch.merge_set_cookie_lines(
        store, "h", "sid=dead; Expires=Wed, 01 Jan 2020 00:00:00 GMT")
    assert store["h"] == {}
    assert live_fetch.render_cookie_headers(store) == {}


# ------------------------------- robots on a host discovered mid-crawl

def test_live_robots_gate_on_midcrawl_host(spark):
    """A URL admitted to the frontier BEFORE its host's robots.txt existed
    (the whole first wave of a newly discovered host) must still not be
    FETCHED once the rules arrive: the refreshed gate re-filters the selected
    rows before the fetch stage. Two loopback hosts: 127.0.0.1 (origin) and
    127.0.0.2 (discovered mid-crawl, robots-disallowed page)."""
    srv_a = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    srv_b_handler = type("_SiteHandlerB", (_SiteHandler,), {
        "site": {}, "seen_headers": []})
    srv_b = ThreadingHTTPServer(("127.0.0.2", 0), srv_b_handler)
    base_a = f"http://127.0.0.1:{srv_a.server_address[1]}"
    base_b = f"http://127.0.0.2:{srv_b.server_address[1]}"
    seen_b_paths: list[str] = []

    class _RecordingB(srv_b_handler):
        def do_GET(self):
            seen_b_paths.append(self.path)
            super().do_GET()
    srv_b.RequestHandlerClass = _RecordingB

    _SiteHandler.site = {
        "/index.html": (
            f'<html><body><a href="{base_b}/blocked.html">x</a>'
            f'<a href="a.html">a</a></body></html>').encode(),
        "/a.html": b"<html><body><p>leaf</p></body></html>",
    }
    _SiteHandler.seen_headers = []
    srv_b_handler.site = {
        "/robots.txt": b"User-agent: *\nDisallow: /blocked\n",
        "/blocked.html": b"<html><body>should never be fetched</body></html>",
    }
    for srv in (srv_a, srv_b):
        threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from suckit_spark.schemas import PAGES_SCHEMA
        cfg = CrawlConfig(origin=f"{base_a}/index.html", ext_depth=-1,
                          continue_on_error=True, respect_robots=True,
                          live_fetch=True)
        res = crawl(spark, cfg, spark.createDataFrame([], PAGES_SCHEMA))
        visited = {r.url for r in res.crawl_log.collect()}
        assert f"{base_a}/a.html" in visited
        assert f"{base_b}/blocked.html" not in visited
        # the wire-level guarantee: host B only ever served robots.txt
        assert set(seen_b_paths) == {"/robots.txt"}
        res.close()
    finally:
        for srv in (srv_a, srv_b):
            srv.shutdown()
            srv.server_close()


# ------------------------------------- loopback bench harness (round 3, S8)

def test_loopback_site_deterministic_and_served():
    """sources/loopback.py: pure-function site generation + a live server."""
    import urllib.request

    from suckit_spark.sources import loopback

    a = loopback.site_paths(50, fanout=4, seed=7)
    b = loopback.site_paths(50, fanout=4, seed=7)
    assert a == b and len(a) == 50
    # every link resolves inside the site
    for body in a.values():
        for frag in body.decode().split('href="')[1:]:
            target = frag.split('"')[0]
            assert "/" + target in a

    with loopback.LoopbackSite(n_pages=5, fanout=2) as base:
        got = urllib.request.urlopen(f"{base}/p0.html", timeout=5).read()
        assert got == loopback.site_paths(5, fanout=2)["/p0.html"]


def test_max_wall_sec_stops_at_superstep_boundary(spark):
    """CrawlConfig.max_wall_sec (reference benchmark.py RUN_TIME protocol):
    a tiny budget stops the crawl after exactly one superstep; the partial
    result is a valid prefix (origin fetched, frontier discovered but not
    crawled)."""
    from suckit_spark.sources.loopback import LoopbackSite
    from suckit_spark.schemas import PAGES_SCHEMA

    with LoopbackSite(n_pages=30, fanout=3) as base:
        cfg = CrawlConfig(origin=f"{base}/p0.html", live_fetch=True,
                          continue_on_error=True, max_wall_sec=1e-6)
        res = crawl(spark, cfg, spark.createDataFrame([], PAGES_SCHEMA))
        assert res.supersteps == 1          # at least (and here exactly) one
        assert res.mirror.count() == 1      # only the origin page
        assert res.seen.count() > 1         # discovery still happened
        res.close()


def test_median_trial_is_a_real_run():
    """The bench headline is always an actual recorded trial (lower median
    for even counts), never an interpolation of two runs."""
    import bench

    t = [{"v": 3.0, "tag": "a"}, {"v": 1.0, "tag": "b"},
         {"v": 2.0, "tag": "c"}]
    assert bench._median_trial(t, "v")["tag"] == "c"
    assert bench._median_trial(t[:2], "v")["tag"] == "b"   # lower median
    assert bench._median_trial(t[:1], "v")["tag"] == "a"


def test_live_bench_point_runs(spark, monkeypatch):
    """bench.run_live_crawl end to end on a tiny site: pages downloaded
    within the budget, against the loopback server, jobs>1."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_LIVE_PAGES", "40")
    monkeypatch.setenv("SPARK_GRAFT_LIVE_RUN_TIME", "6")
    monkeypatch.setenv("SPARK_GRAFT_LIVE_JOBS", "4")
    monkeypatch.setenv("SPARK_GRAFT_LIVE_TRIALS", "1")
    out = bench.run_live_crawl(spark)
    assert out["jobs"] == 4
    assert 0 < out["pages_downloaded"] <= 40
    assert out["supersteps"] >= 1
    assert out["pages_per_sec"] > 0
    # the median-record contract: headline == the median trial's numbers,
    # every trial recorded with its load context
    assert out["n_trials"] == 1
    assert out["trials"][0]["pages_per_sec"] == out["pages_per_sec"]
    assert "load_avg_1m" in out["trials"][0]


def test_live_robots_fetch_many_hosts(spark):
    """A superstep introducing 7 hosts fetches their robots.txt in the
    driver's bounded thread pool, each host's exactly once. One
    server bound to 0.0.0.0 serves 8 loopback aliases (127.0.0.1-8)
    host-aware via the Host header; even-numbered hosts disallow their
    page."""
    class _MultiHost(BaseHTTPRequestHandler):
        port = None
        requested: list[tuple[str, str]] = []

        def do_GET(self):
            host = self.headers.get("Host", "").split(":")[0]
            type(self).requested.append((host, self.path))
            last = int(host.rsplit(".", 1)[-1])
            body = None
            if host == "127.0.0.1" and self.path == "/index.html":
                links = "".join(
                    f'<a href="http://127.0.0.{x}:{self.port}/p.html">x</a>'
                    for x in range(2, 9))
                body = f"<html><body>{links}</body></html>".encode()
            elif self.path == "/robots.txt":
                body = (b"User-agent: *\nDisallow: /p\n" if last % 2 == 0
                        else b"User-agent: *\nDisallow: /none\n")
            elif self.path == "/p.html":
                body = b"<html><body>leaf</body></html>"
            if body is None:
                self.send_response(404)
                self.send_header("Content-Type", "text/html")
                self.end_headers()
                self.wfile.write(b"<html>404</html>")
                return
            self.send_response(200)
            self.send_header("Content-Type",
                             "text/plain" if self.path == "/robots.txt"
                             else "text/html")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("0.0.0.0", 0), _MultiHost)
    _MultiHost.port = srv.server_address[1]
    _MultiHost.requested = []
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from suckit_spark.schemas import PAGES_SCHEMA
        port = _MultiHost.port
        cfg = CrawlConfig(origin=f"http://127.0.0.1:{port}/index.html",
                          ext_depth=-1, continue_on_error=True,
                          respect_robots=True, live_fetch=True, jobs=4)
        res = crawl(spark, cfg, spark.createDataFrame([], PAGES_SCHEMA))
        visited = {r.url for r in res.crawl_log.collect()}
        for x in (3, 5, 7):
            assert f"http://127.0.0.{x}:{port}/p.html" in visited
        for x in (2, 4, 6, 8):
            assert f"http://127.0.0.{x}:{port}/p.html" not in visited
        # wire-level: every even host served ONLY robots.txt, each host's
        # robots fetched exactly once (the rules dict deduplicates)
        for x in range(1, 9):
            paths = [p for h, p in _MultiHost.requested
                     if h == f"127.0.0.{x}"]
            assert paths.count("/robots.txt") == 1, (x, paths)
            if x % 2 == 0:
                assert paths == ["/robots.txt"]
        res.close()
    finally:
        srv.shutdown()
        srv.server_close()


def test_live_fetch_follows_redirects(spark):
    """A 302 is followed transparently (reqwest's default in the reference,
    downloader.rs client defaults): the crawl visits the REQUESTED url, the
    stored bytes are the redirect target's, and the mirror path stays the
    requested url's path."""
    class _RedirHandler(BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/index.html":
                body = b'<html><body><a href="moved.html">m</a></body></html>'
            elif self.path == "/moved.html":
                self.send_response(302)
                self.send_header("Location", "/target.html")
                self.end_headers()
                return
            elif self.path == "/target.html":
                body = b"<html><body>final destination</body></html>"
            else:
                self.send_response(404)
                self.send_header("Content-Type", "text/html")
                self.end_headers()
                self.wfile.write(b"404")
                return
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _RedirHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        cfg = CrawlConfig(origin=f"{base}/index.html",
                          continue_on_error=True, live_fetch=True)
        res = crawl(spark, cfg, spark.createDataFrame([], PAGES_SCHEMA))
        mirror = {r.path: bytes(r.content) for r in res.mirror.collect()}
        moved = next(v for k, v in mirror.items() if k.endswith("moved.html"))
        assert b"final destination" in moved
        visited = {r.url for r in res.crawl_log.collect()}
        assert f"{base}/moved.html" in visited
        res.close()
    finally:
        srv.shutdown()
        srv.server_close()


def test_live_crawl_closes_every_connection(spark):
    """No leaked sockets: every connection a live crawl opens (the page
    fetches of a jobs=2 crawl and its robots.txt fetches) is closed once the
    crawl returns — server-side, each accepted connection's handler ends
    within 5 s."""
    from suckit_spark.sources.loopback import LoopbackSite

    site = LoopbackSite(n_pages=30, fanout=3,
                        robots_txt=b"User-agent: *\nDisallow: /p2\n")
    with site as base:
        cfg = CrawlConfig(origin=f"{base}/p0.html", live_fetch=True, jobs=2,
                          continue_on_error=True, respect_robots=True)
        res = crawl(spark, cfg, spark.createDataFrame([], PAGES_SCHEMA))
        visited = res.crawl_log.count()
        res.close()
        deadline = time.monotonic() + 5
        while (site.connections_closed < site.connections_opened
               and time.monotonic() < deadline):
            time.sleep(0.05)
        opened, closed = site.connections_opened, site.connections_closed
    assert visited > 1 and site.requests_served > visited  # + robots.txt
    assert opened >= 2
    assert closed == opened, f"{opened - closed} of {opened} left open"
