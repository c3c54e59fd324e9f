"""robots.txt rules and the robots gate (north_rule extension — the
reference has no robots support).

The rules are one driver dict, host -> Disallow prefixes: a corpus crawl
collects and parses every robots.txt row once (:func:`collect_robots_rules`),
a live crawl fetches each host's robots.txt before the host's first fetch.
:func:`rules_frame` ships the dict as a JVM-local ``(host, prefixes)`` frame,
which Catalyst broadcasts into the one gate, :func:`apply_robots_join`: a
left join on host and a JVM-side prefix predicate, so gating starts no
Python worker.

Disallowed URLs are dropped at discovery time — never enqueued, never added
to the seen set (they remain eligible if the rules change on a later crawl).

Agent sections: a rule group applies to the crawl when one of its
``User-agent`` tokens is a case-insensitive substring of the configured UA;
groups for ``*`` are the fallback used only when no specific group matches
(the standard robots exclusion semantics). Consecutive ``User-agent`` lines
share the group that follows them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions import urlkit
from ..schemas import local_frame
from .frontier import host_col

#: the rules frame: Disallow prefixes per host
RULES_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("prefixes", ArrayType(StringType())),
])

#: ``urlsplit(url).path``: after the netloc, up to the query or fragment
_PATH_RE = r"^[^:/?#]+://[^/?#]*([^?#]*)"


def _groups(content: str):
    """Yield ``(agents, prefixes, delay)`` per rule group of a robots.txt:
    the lower-cased tokens of a run of ``User-agent`` lines, the non-empty
    ``Disallow`` values after it, and its last parsable ``Crawl-delay``
    (``None`` when there is none or it is negative). Lines before the first
    ``User-agent`` belong to no group."""
    agents: list[str] = []
    prefixes: list[str] = []
    delay: float | None = None
    in_agent_run = False
    for raw_line in content.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not in_agent_run:
                if agents:
                    yield agents, prefixes, delay
                agents, prefixes, delay = [], [], None
                in_agent_run = True
            agents.append(value.lower())
            continue
        in_agent_run = False
        if key == "disallow" and value:
            prefixes.append(value)
        elif key == "crawl-delay":
            try:
                parsed = float(value)
            except ValueError:
                continue
            delay = parsed if parsed >= 0 else None
    if agents:
        yield agents, prefixes, delay


def _names_agent(agents: list[str], user_agent: str | None) -> bool:
    """True when a group names this crawl: one of its tokens other than
    ``*`` is a substring of the lower-cased UA."""
    ua = (user_agent or "").lower()
    return bool(ua) and any(t and t != "*" and t in ua for t in agents)


def parse_robots(content: str, user_agent: str | None = None) -> list[str]:
    """Extract the Disallow path prefixes that apply to this crawl.

    Groups whose agent token matches ``user_agent`` by case-insensitive
    substring win; ``*`` groups apply only when no specific group matched.
    ``user_agent=None`` keeps only the ``*`` groups (an anonymous probe).
    """
    specific: list[str] = []
    star: list[str] = []
    for agents, prefixes, _ in _groups(content):
        if _names_agent(agents, user_agent):
            specific.extend(prefixes)
        if "*" in agents:
            star.extend(prefixes)
    return specific if specific else star


def parse_crawl_delay(content: str,
                      user_agent: str | None = None) -> float | None:
    """Extract the ``Crawl-delay`` (seconds) that applies to this crawl —
    same group-selection semantics as :func:`parse_robots` (specific-agent
    groups win, ``*`` is the fallback; the directive is a de-facto standard,
    not in RFC 9309, but honored by most polite crawlers); the strictest of
    several applicable groups wins. Returns ``None`` when no applicable
    group sets one or the value does not parse."""
    specific: float | None = None
    star: float | None = None
    for agents, _, delay in _groups(content):
        if delay is None:
            continue
        if _names_agent(agents, user_agent):
            specific = max(specific or 0.0, delay)
        if "*" in agents:
            star = max(star or 0.0, delay)
    return specific if specific is not None else star


def collect_robots_rules(pages: DataFrame,
                         user_agent: str | None = None) -> dict[str, list[str]]:
    """One pass over the corpus for ``*/robots.txt`` rows -> host -> prefixes,
    the driver dict :func:`rules_frame` ships to the gate."""
    rows = (
        pages.filter(F.col("url").endswith("/robots.txt"))
        .select("url", "html")
        .collect()
    )
    rules: dict[str, list[str]] = {}
    for r in rows:
        host = urlkit.url_host(r.url)
        if host is None or r.html is None:
            continue
        rules[host] = parse_robots(
            bytes(r.html).decode("utf-8", errors="replace"), user_agent)
    return rules


def rules_frame(spark, rules: dict[str, list[str]]) -> DataFrame:
    """The driver rules dict as a JVM-local rules frame (no Python RDD:
    gating against it starts no Python worker)."""
    return local_frame(spark, list(rules.items()), RULES_SCHEMA)


def apply_robots_join(candidates: DataFrame, rules_df: DataFrame,
                      url_col: str = "url") -> DataFrame:
    """The robots gate: ONE left equi-join of candidates against the rules
    frame on host, then a JVM-side prefix predicate on the path. Catalyst
    broadcasts a small rules frame on its own; a rules table too big to
    broadcast joins by shuffle. Hosts with no rules row pass
    (allow-by-default)."""
    host = host_col(url_col)
    path = F.regexp_extract(F.col(url_col), _PATH_RE, 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    tagged = candidates.withColumn("__rhost", host).withColumn("__rpath", path)
    joined = tagged.join(
        rules_df.select(F.col("host").alias("__rhost"), "prefixes"),
        on="__rhost", how="left")
    blocked = F.exists(
        "prefixes", lambda p: F.col("__rpath").startswith(p))
    return (joined.filter(F.col("prefixes").isNull() | ~blocked)
            .drop("__rhost", "__rpath", "prefixes"))
