"""Live HTTP fetch stage (reference downloader.rs:73-184).

The corpus-join fetch (plans/crawl.py S2) is the deterministic sandbox
realization; this module is the real-network one: a batch generator the
crawl runs in the same ``mapInPandas`` as the page pipeline, which GETs each
selected frontier row with a per-request builder honoring the
reference's whole client surface — ``user_agent`` (downloader.rs:92-97),
``cookie`` (downloader.rs:99-104), per-host basic auth (downloader.rs:55-71),
``disable_certs_checks`` (downloader.rs:84-89), the ``tries`` retry loop
(downloader.rs:174-184), and the ``delay``/``random_range`` politeness sleep
(scraper.rs:337-350).

Scale shape: the stage is embarrassingly parallel (no shuffle — it maps the
already-budgeted, already-salted frontier partition-wise); each partition
reuses one opener. Transport failures retry ``tries`` times then surface as
``found=False`` (crawl marks the row a fetch error); HTTP error statuses are
*responses* (the reference saves the 401 body, auth.rs:13-40), not retries.

Tests drive this against an in-process loopback ``http.server`` — no
external network is ever touched in the sandbox.
"""

from __future__ import annotations

import base64
import http.client
import ssl
import time
import urllib.error
import urllib.request
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ..config import CrawlConfig, build_auth_map
from ..functions import urlkit

#: What the crawl loop's corpus join produces — live fetch emits the same
#: shape so the downstream page pipeline is fetch-mode-agnostic.
FETCHED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("fetch_url", StringType()),
    StructField("depth", IntegerType()),
    StructField("ext_depth", IntegerType()),
    StructField("superstep", IntegerType()),
    StructField("order_key", ArrayType(LongType())),
    StructField("html", BinaryType()),
    StructField("content_type", StringType()),
    StructField("content_disposition", StringType()),
    StructField("requires_auth", BooleanType()),   # corpus-sim column: False
    StructField("auth_user", StringType()),
    StructField("auth_pass", StringType()),
    StructField("status", IntegerType()),
    StructField("found", BooleanType()),
    StructField("set_cookie", StringType()),   # response Set-Cookie, \n-joined
])


def build_request(cfg: CrawlConfig, url: str,
                  extra_cookie: str | None = None) -> urllib.request.Request:
    """One GET request with the reference's headers: UA always; Cookie when
    configured (or, failing that, the crawl's relayed session cookies for
    this host); basic auth only when the URL's host has an auth-map entry
    (credentials never leak cross-host, downloader.rs:55-62)."""
    headers = {"User-Agent": cfg.user_agent}
    if cfg.cookie:
        headers["Cookie"] = cfg.cookie
    elif extra_cookie:
        headers["Cookie"] = extra_cookie
    host = urlkit.url_host(url)
    cred = build_auth_map(list(cfg.auth), cfg.origin).get(host) if host else None
    if cred:
        user, password = cred
        token = base64.b64encode(
            f"{user}:{password or ''}".encode("utf-8")).decode("ascii")
        headers["Authorization"] = f"Basic {token}"
    return urllib.request.Request(url, headers=headers)


def make_ssl_context(cfg: CrawlConfig) -> ssl.SSLContext:
    """TLS verification opt-out (downloader.rs:84-89)."""
    ctx = ssl.create_default_context()
    if cfg.disable_certs_checks:
        ctx.check_hostname = False
        ctx.verify_mode = ssl.CERT_NONE
    return ctx


class _ConnectionPool:
    """Per-host keep-alive connections for one opener (reference parity:
    reqwest's blocking ``Client`` pools connections by default,
    downloader.rs:73-87). ``urllib``'s stock handlers force
    ``Connection: close`` on every request — a fresh TCP (and TLS) handshake
    per page, which at the reference's core use case (one host × thousands
    of pages) is a per-request tax the reference does not pay. This pool
    replaces only the transport step of ``do_open``; cookie processing and
    redirect following stay with the unmodified urllib opener chain.

    One pool per fetch partition (never process-global): the pool dies with
    the task, so sockets cannot leak across crawls, and ``jobs=N`` keeps
    exactly N live connections per host — the reference's worker-pool bound.
    A pooled socket the server quietly closed between supersteps surfaces as
    an error on the next request; the pool retries ONCE on a fresh
    connection (only when the stale socket was reused, never compounding
    ``cfg.tries``)."""

    def __init__(self) -> None:
        self._conns: dict[tuple[str, str], http.client.HTTPConnection] = {}

    def _evict(self, key) -> None:
        conn = self._conns.pop(key, None)
        if conn is not None:
            try:
                conn.close()
            except Exception:
                pass

    def open(self, factory, req: urllib.request.Request):
        key = (req.type, req.host)
        timeout = getattr(req, "timeout", 30)
        headers = dict(req.unredirected_hdrs)
        headers.update({k: v for k, v in req.headers.items()
                        if k not in headers})
        # stdlib do_open title-cases names before the wire (Request stores
        # them capitalize()d: "User-agent"); match it exactly minus its
        # forced "Connection: close" — keep-alive is the whole point.
        headers = {k.title(): v for k, v in headers.items()}
        for attempt in (0, 1):
            conn = self._conns.get(key)
            fresh = conn is None
            if fresh:
                conn = factory(req.host, timeout)
                self._conns[key] = conn
            try:
                conn.request(req.get_method(), req.selector or "/",
                             req.data, headers)
                r = conn.getresponse()
            except Exception as err:
                self._evict(key)
                if fresh or attempt:
                    if isinstance(err, OSError):
                        raise urllib.error.URLError(err)
                    raise
                continue   # stale pooled socket: one retry on a fresh one
            if r.will_close:
                self._evict(key)
            # What stdlib do_open sets so the opener chain (cookie
            # extraction, redirect handling, error processor) can treat the
            # raw HTTPResponse as a urllib response object.
            r.url = req.get_full_url()
            r.msg = r.reason
            return r

    def close(self) -> None:
        for key in list(self._conns):
            self._evict(key)


class _PooledHTTPHandler(urllib.request.HTTPHandler):
    def __init__(self, pool: _ConnectionPool):
        super().__init__()
        self._pool = pool

    def http_open(self, req):
        return self._pool.open(
            lambda host, timeout: http.client.HTTPConnection(
                host, timeout=timeout), req)


class _PooledHTTPSHandler(urllib.request.HTTPSHandler):
    def __init__(self, pool: _ConnectionPool, context: ssl.SSLContext):
        super().__init__(context=context)
        self._pool = pool
        self._context = context

    def https_open(self, req):
        return self._pool.open(
            lambda host, timeout: http.client.HTTPSConnection(
                host, timeout=timeout, context=self._context), req)


def _default_opener(cfg: CrawlConfig):
    """One opener per fetch partition: TLS context, per-host KEEP-ALIVE
    connections (:class:`_ConnectionPool` — reference parity with reqwest's
    pooled blocking client), plus an ACCUMULATING cookie jar (reference
    ``cookie_store(true)``, downloader.rs:73-83), so a ``Set-Cookie`` issued
    by one response rides along, RFC-scoped, on every later request this
    opener makes. Across supersteps, cookies reach requests through the
    crawl's driver relay instead (``make_fetch``'s ``relay_cookies``). The
    static ``--cookie`` header and the relay's header win on conflict:
    ``CookieJar.add_cookie_header`` only fills in a Cookie header when the
    request doesn't already carry one (:func:`build_request` sets it
    explicitly)."""
    import http.cookiejar

    ctx = make_ssl_context(cfg)
    jar = http.cookiejar.CookieJar()
    pool = _ConnectionPool()
    url_opener = urllib.request.build_opener(
        _PooledHTTPHandler(pool),
        _PooledHTTPSHandler(pool, context=ctx),
        urllib.request.HTTPCookieProcessor(jar))

    def _headers(msg) -> dict:
        hdrs = dict(msg or {})
        # dict() keeps only the LAST of repeated headers; multiple Set-Cookie
        # lines are the norm, so re-join them all (newline — commas appear
        # inside Expires attributes and cannot delimit).
        all_sc = msg.get_all("Set-Cookie") if msg is not None else None
        if all_sc:
            hdrs["set-cookie"] = "\n".join(all_sc)
        return hdrs

    def opener(req: urllib.request.Request):
        try:
            with url_opener.open(req, timeout=30) as resp:
                return resp.status, _headers(resp.headers), resp.read()
        except urllib.error.HTTPError as e:
            # An HTTP error status is a response, not a transport failure:
            # the reference processes e.g. the 401 body like any page.
            return e.code, _headers(e.headers), e.read()

    opener.pool = pool   # introspectable for tests / explicit close
    return opener


def politeness_sleep(cfg: CrawlConfig, url: str,
                     host_delay: float = 0.0) -> float:
    """Per-request politeness delay: ``max(delay, host_delay)`` + a
    deterministic pseudo-random extra in [0, random_range) seconds
    (scraper.rs:337-350 uses rand; we key on the url hash so runs are
    reproducible). ``host_delay`` carries the host's robots.txt
    ``Crawl-delay`` — the stricter of the two wins. Returns the seconds
    slept."""
    extra = 0.0
    if cfg.random_range > 0:
        import zlib
        extra = (zlib.crc32(url.encode("utf-8"))
                 % (cfg.random_range * 1000)) / 1000.0
    total = max(float(cfg.delay), float(host_delay or 0.0)) + extra
    if total > 0:
        time.sleep(total)
    return total


def fetch_one(cfg: CrawlConfig, url: str, opener=None,
              extra_cookie: str | None = None) -> dict:
    """GET ``url`` with up to ``cfg.tries`` attempts on transport failure
    (downloader.rs:174-184). Returns body/headers/status, or
    ``found=False`` once the retry budget is exhausted."""
    own_opener = opener is None
    opener = opener or _default_opener(cfg)
    req = build_request(cfg, url, extra_cookie=extra_cookie)
    last_err: Exception | None = None
    try:
        for _ in range(max(1, cfg.tries)):
            try:
                status, headers, body = opener(req)
            except Exception as e:  # transport failure: retry
                last_err = e
                continue
            lower = {k.lower(): v for k, v in headers.items()}
            return {
                "html": body,
                "content_type": lower.get("content-type"),
                "content_disposition": lower.get("content-disposition"),
                "set_cookie": lower.get("set-cookie"),
                "status": int(status),
                "found": True,
                "error": None,
            }
        return {
            "html": None, "content_type": None, "content_disposition": None,
            "set_cookie": None,
            "status": 0, "found": False, "error": repr(last_err),
        }
    finally:
        # A one-shot opener created just for this call must not leave its
        # keep-alive socket to the GC (ResourceWarning + a server thread
        # parked on a dead connection); callers who pass an opener own its
        # pool lifetime.
        if own_opener:
            opener.pool.close()


def fetch_robots_txt(cfg: CrawlConfig, base: str) -> str:
    """GET ``<base>/robots.txt`` and return its text, or ``""`` when the
    host has none (non-200, empty, or unreachable — allow-by-default,
    matching the candidate-time gate). Runs on the driver for small host
    batches and inside the distributed robots stage for large ones."""
    got = fetch_one(cfg, f"{base}/robots.txt")
    if got["found"] and got["status"] == 200 and got["html"]:
        return bytes(got["html"]).decode("utf-8", errors="replace")
    return ""


def _cookie_is_deletion(attrs: list[str]) -> bool:
    """True when the Set-Cookie attribute list says "remove this cookie":
    ``Max-Age`` <= 0 or an ``Expires`` date already in the past — the two
    standard eviction idioms. Precedence per RFC 6265 §5.3 step 3: when a
    valid ``Max-Age`` is present its verdict WINS and ``Expires`` is ignored
    entirely (so ``Expires=<past>; Max-Age=3600`` is a live cookie, not a
    deletion); ``Expires`` decides only when no valid ``Max-Age`` exists.
    All attributes are scanned before answering; a repeated attribute
    counts by its LAST valid occurrence (§5.3 step 3 reads "the last
    attribute in the cookie-attribute-list" of that name; §5.2 drops the
    invalid ones), so ``Max-Age=3600; Max-Age=0`` is a deletion."""
    import email.utils
    from datetime import datetime, timezone

    max_age_verdict: bool | None = None
    expires_verdict: bool | None = None
    for a in attrs:
        k, _, v = a.strip().partition("=")
        k = k.strip().lower()
        v = v.strip()
        if k == "max-age":
            try:
                max_age_verdict = int(v) <= 0
            except ValueError:
                continue
        if k == "expires":
            try:
                when = email.utils.parsedate_to_datetime(v)
            except (TypeError, ValueError):
                continue
            if when.tzinfo is None:
                when = when.replace(tzinfo=timezone.utc)
            expires_verdict = when <= datetime.now(timezone.utc)
    if max_age_verdict is not None:
        return max_age_verdict
    return bool(expires_verdict)


def merge_set_cookie_lines(store: dict, host: str, lines: str) -> None:
    """Fold newline-joined ``Set-Cookie`` header lines into a driver-held
    ``host -> {name: (value, secure)}`` store. The relay tracks exactly the
    attributes whose loss would be unsafe or wrong: ``Secure`` (a cookie
    minted over https must never be replayed on plain-http requests —
    :func:`render_cookie_headers` renders it into the https header only) and
    deletion (``Max-Age=0`` / past ``Expires`` evicts the entry instead of
    storing a dead value). Domain/Path scoping is deliberately simplified to
    whole-host — see the call site in plans/crawl.py; full RFC semantics
    stay with each fetch task's CookieJar, the relay exists for the common
    case: a session cookie that must reach every later request regardless
    of which executor fetched the page that minted it."""
    jar = store.setdefault(host, {})
    for line in lines.split("\n"):
        parts = line.split(";")
        kv = parts[0].strip()
        if "=" not in kv:
            continue
        name, _, value = kv.partition("=")
        name = name.strip()
        if not name:
            continue
        if _cookie_is_deletion(parts[1:]):
            jar.pop(name, None)
            continue
        secure = any(a.strip().lower() == "secure" for a in parts[1:])
        jar[name] = (value.strip(), secure)


def render_cookie_headers(store: dict) -> dict[str, dict[str, str]]:
    """``host -> {scheme: "k=v; k2=v2"}`` snapshot for
    :func:`make_fetch`: the ``http`` header omits Secure cookies, the
    ``https`` header carries everything. A host whose cookies are all
    Secure gets no ``http`` entry at all."""
    out: dict[str, dict[str, str]] = {}
    for h, d in store.items():
        if not d:
            continue
        https = "; ".join(f"{k}={v}" for k, (v, _s) in d.items())
        http_only = "; ".join(
            f"{k}={v}" for k, (v, s) in d.items() if not s)
        rendered = {"https": https}
        if http_only:
            rendered["http"] = http_only
        out[h] = rendered
    return out


def make_fetch(cfg: CrawlConfig,
               relay_cookies: dict[str, dict[str, str]] | None = None,
               host_delays: dict[str, float] | None = None):
    """The live S2 as a batch generator function: pandas batches of selected
    frontier rows in, :data:`FETCHED_SCHEMA` batches out, one HTTP GET per
    row over one keep-alive opener per task. The crawl loop composes it with
    the page pipeline inside ONE ``mapInPandas`` (``pipeline(fetch(batches))``),
    so a live superstep pays one Python worker per fetch task, not two.

    ``relay_cookies`` (host -> scheme -> rendered Cookie header, from
    :func:`render_cookie_headers`) is the driver-relayed session-cookie
    state from PREVIOUS supersteps, the one path by which cookies cross
    supersteps — worker-agnostic, so a cookie minted on one executor
    reaches requests on every other; the per-scheme split keeps Secure
    cookies off plain-http requests. ``host_delays`` holds robots.txt
    Crawl-delays by host."""
    relay = relay_cookies or {}
    delays = host_delays or {}

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        opener = _default_opener(cfg)
        try:
            for pdf in batches:
                out = []
                for row in pdf.to_dict("records"):
                    host = urlkit.url_host(row["fetch_url"])
                    politeness_sleep(cfg, row["fetch_url"],
                                     host_delay=delays.get(host, 0.0) if host
                                     else 0.0)
                    scheme = ("https" if row["fetch_url"].startswith("https:")
                              else "http")
                    got = fetch_one(
                        cfg, row["fetch_url"], opener=opener,
                        extra_cookie=(relay.get(host, {}).get(scheme)
                                      if host else None))
                    out.append({
                        "url": row["url"], "fetch_url": row["fetch_url"],
                        "depth": row["depth"], "ext_depth": row["ext_depth"],
                        "superstep": row["superstep"],
                        "order_key": row["order_key"],
                        "html": got["html"],
                        "content_type": got["content_type"],
                        "content_disposition": got["content_disposition"],
                        "requires_auth": False,
                        "auth_user": None, "auth_pass": None,
                        "status": got["status"], "found": got["found"],
                        "set_cookie": got["set_cookie"],
                    })
                yield (pd.DataFrame(out) if out
                       else pd.DataFrame(
                           columns=[f.name for f in FETCHED_SCHEMA]))
        finally:
            # Reused python workers outlive the task: without an explicit
            # close the partition's keep-alive sockets linger until GC (one
            # blocked server thread per lingering connection).
            opener.pool.close()

    return fetch


def fetch_partitions(frontier: DataFrame, cfg: CrawlConfig,
                     rows: int | None = None) -> DataFrame:
    """C1 (reference worker pool, args.rs:22-29): ``jobs`` bounds the number
    of simultaneous connections — realized as the fetch stage's partition
    count. jobs=1 (the reference default) serializes requests exactly like
    the single-worker crawl. ``rows``, the frontier's row count when the
    caller knows it, caps the partitions, so a frontier smaller than
    ``jobs`` starts no empty fetch task."""
    if cfg.jobs and cfg.jobs > 0:
        return frontier.repartition(min(cfg.jobs, rows or cfg.jobs))
    return frontier
