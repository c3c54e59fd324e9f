"""Frontier scheduling operators: per-host politeness budgets and skew-aware
repartitioning.

The reference's only scheduler is an unbounded FIFO channel — no host
fairness, and politeness is a per-worker sleep (scraper.rs:50,337-350). At
scale both become explicit set operations (north_rule):

* politeness: within a superstep, each host fetches at most ``budget`` URLs;
  the overflow is *deferred* to the next superstep in stable (order_key)
  order — no work is ever dropped, the crawl stays fully deterministic for a
  given config, and no host is hammered with an unbounded burst. (Deferral
  can shift which parent first discovers a URL, so the visit order is the
  budgeted crawl's own canonical order, not the unbudgeted one's.)
* skew: the frontier is repartitioned on the url hash; hosts that dominate a
  superstep get an extra salt so one mega-host cannot serialize a stage onto
  a single task (SURVEY.md §2.4 C4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


#: ``urlsplit(url).hostname`` as a regex: the netloc after its last ``@``
#: up to the port (an IPv6 literal keeps its brackets here; host_col strips
#: them). ``parse_url`` is no substitute: it rejects URLs ``java.net.URI``
#: cannot parse (``|``, ``^``, a stray ``%``; the resolver keeps them),
#: raising under ANSI mode.
_HOST_RE = r"^[^:/?#]+://(?:[^/?#]*@)?(\[[^/?#]*\]|[^:/?#]*)"


def host_col(url_col: str | F.Column = "fetch_url") -> F.Column:
    """Lowercased host without port or IPv6 brackets, as
    ``urlsplit(url).hostname`` reads it; null when the URL has none.
    JVM-side, codegen'd."""
    host = F.regexp_extract(url_col, _HOST_RE, 1)
    return F.nullif(F.lower(F.translate(host, "[]", "")), F.lit(""))


#: the per-host selection flag a ranked frontier carries
#: (:func:`rank_host_budget`): true for the rows within their host's budget
SELECTED = "__selected"


def apply_host_budget(frontier: DataFrame, budget: int | None,
                      salt_buckets: int = 16,
                      priority_expr: str | None = None,
                      rows: int | None = None):
    """Split the frontier into (selected, deferred) by per-host rank.

    A frontier that already carries the :data:`SELECTED` flag (the crawl
    loop ranks each next frontier in the job that materializes it) is split
    by two filters on that column; any other is ranked here, lazily, by
    :func:`rank_host_budget`. ``deferred`` is None when nothing can be
    deferred: there is no budget, or the caller knows the frontier's row
    count ``rows`` and no host can exceed the budget.
    """
    if budget is None:
        return frontier, None
    if SELECTED not in frontier.columns:
        if rows is not None and rows <= budget:
            return frontier, None
        frontier = rank_host_budget(frontier, budget, salt_buckets,
                                    priority_expr)
    flag = F.col(SELECTED)
    return (frontier.filter(flag).drop(SELECTED),
            frontier.filter(~flag).drop(SELECTED))


def rank_host_budget(frontier: DataFrame, budget: int,
                     salt_buckets: int = 16,
                     priority_expr: str | None = None) -> DataFrame:
    """The frontier plus the :data:`SELECTED` flag: the row is among its
    host's first ``budget`` rows.

    Rank order is the canonical visit order (order_key), so deferral never
    reorders the crawl — deferred rows keep their order_key and sort ahead of
    anything discovered later.

    ``priority_expr`` (north_rule "priority queue" hook): an optional SQL
    expression over the frontier columns; higher values are fetched first
    within each host's budget (ties broken by order_key, so priority=None
    or a constant is exact FIFO parity). Example:
    ``priority_expr="-depth"`` prefers shallow pages;
    ``priority_expr="case when url like '%.html' then 1 else 0 end"``
    prefers html. Deferral still never drops work — losers carry their
    order_key and priority into the next superstep.

    Skew (SURVEY.md §2.4 C4, north_rule): a window partitioned by host alone
    serializes a mega-host's whole frontier onto one task. With
    ``salt_buckets > 1`` the selection runs two-phase and stays EXACT:

    1. pre-rank within (host, salt): any row whose true per-host rank is
       <= budget also has salt-local rank <= budget (a salt bucket holds a
       subsequence), so a row with salt-rank > budget is never selected;
    2. exact re-rank over the survivors picks the true top ``budget``.

    The heavy phase-1 window spreads a mega-host over ``salt_buckets``
    tasks; phase 2 touches at most budget*salt_buckets rows per host, and
    the phase-1 losers join them unflagged, with no second shuffle.
    """
    host = host_col()
    # A fixed total order per host: priority desc first (when given), then
    # the canonical order_key. The salted two-phase trick below is exact for
    # ANY fixed order — a salt bucket holds a subsequence of it.
    order = ([F.expr(priority_expr).desc(), F.col("order_key")]
             if priority_expr else [F.col("order_key")])
    if salt_buckets and salt_buckets > 1:
        salt = F.pmod(F.xxhash64("url", F.lit(7)), F.lit(salt_buckets))
        w1 = Window.partitionBy(host, salt).orderBy(*order)
        pre = frontier.withColumn("__prerank", F.row_number().over(w1))
        survivors = pre.filter(F.col("__prerank") <= budget).drop("__prerank")
        losers = (pre.filter(F.col("__prerank") > budget).drop("__prerank")
                  .withColumn(SELECTED, F.lit(False)))
        w2 = Window.partitionBy(host).orderBy(*order)
        return survivors.withColumn(
            SELECTED, F.row_number().over(w2) <= budget).unionByName(losers)
    w = Window.partitionBy(host).orderBy(*order)
    return frontier.withColumn(SELECTED, F.row_number().over(w) <= budget)
