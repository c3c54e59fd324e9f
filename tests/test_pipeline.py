"""Crawl → corpus bridge (suckit_spark/pipeline.py): the documents table
built from a finished crawl feeds the curation operators directly, and its
``text`` is byte-identical to the text of the ORIGINAL fetched page (the
input_hint invariant — link rewriting never touches character data)."""

from pyspark.sql import functions as F

from suckit_spark import CrawlConfig, crawl, pipeline
from suckit_spark.functions import htmlkit
from suckit_spark.operators import webtext
from suckit_spark.plans.checkpoint import CrawlCheckpoint
from suckit_spark.sources import fixtures


def _run(spark):
    cfg = CrawlConfig(origin="http://0.0.0.0/", continue_on_error=True)
    return crawl(spark, cfg, fixtures.pages_df(spark, fixtures.site_a()))


def test_corpus_text_matches_original_pages(spark):
    res = _run(spark)
    corpus = pipeline.corpus_from_crawl(spark, res)
    got = {r.url: r for r in corpus.collect()}

    # oracle: extract_text over the ORIGINAL (pre-rewrite) page bytes
    originals = {
        r["url"]: htmlkit.extract_text(
            r["html"].decode("utf-8", errors="replace"))
        for r in fixtures.site_a()
        if (r.get("content_type") or "text/html").startswith("text/html")}
    crawled_html = set(got) & set(originals)
    assert crawled_html  # the site's html pages were crawled
    for url in crawled_html:
        assert got[url].text == originals[url], url

    # schema contract: every column the webtext operators consume
    row = next(iter(got.values()))
    assert row.source == "0.0.0.0"
    assert row.n_chars == len(row.text)
    assert isinstance(row.doc_id, int)
    res.close()


def test_corpus_feeds_curation_operators(spark):
    res = _run(spark)
    corpus = pipeline.corpus_from_crawl(spark, res)
    n = corpus.count()

    # the whole curation chain runs on the bridged table unmodified
    assert webtext.exact_dedup(corpus).count() <= n
    q = webtext.quality_score(corpus)
    assert q.count() == n and "quality" in q.columns
    sampled = webtext.stratified_sample(
        corpus, rates={"0.0.0.0": 1.0}, default_rate=0.0)
    assert sampled.count() == n  # every doc is from the crawled host
    reps = webtext.repetition_scores(corpus)
    assert reps.count() == n
    res.close()


def test_page_store_exposes_all_supersteps(spark):
    res = _run(spark)
    store = res.store
    assert store.select("superstep").distinct().count() == res.supersteps
    # error rows (dead cross-host links) are visible here, not in the mirror
    assert store.filter(F.col("status") == "error").count() >= 0
    res.close()


def _chain_pages(spark, n, host="chain.example"):
    """A site whose page i links only to page i+1: a crawl of it runs n
    supersteps, one page each."""
    url = f"http://{host}/p{{}}.html".format
    rows = [(url(i), f'<html><body>page {i} <a href="p{i + 1}.html">next</a>'
                     f'</body></html>'.encode(), "text/html", 200)
            for i in range(n)]
    return url(0), spark.createDataFrame(
        rows, "url string, html binary, content_type string, status int")


def test_reused_checkpoint_dir_reads_only_this_crawl(spark, tmp_path):
    """A fresh crawl into a checkpoint_dir an earlier, longer crawl used:
    its store, views and corpus hold only its own supersteps, not the
    result stores the earlier crawl left on disk."""
    origin, pages = _chain_pages(spark, 8)
    cfg = CrawlConfig(origin=origin, checkpoint_dir=str(tmp_path / "ck"))
    crawl(spark, cfg.with_(max_supersteps=6), pages)
    res = crawl(spark, cfg.with_(max_supersteps=2), pages)
    docs = pipeline.corpus_from_crawl(spark, res)
    assert sorted(r.url for r in docs.collect()) == [
        "http://chain.example/p0.html", "http://chain.example/p1.html"]
    assert res.crawl_log.count() == res.mirror.count() == 2
    assert res.store.count() == 2


def test_fresh_crawl_clears_a_reused_checkpoint_dir(spark, tmp_path):
    """A fresh crawl into a checkpoint_dir that a longer crawl of another
    site used starts a new snapshot: the last committed superstep is its
    own, and a resume from it equals an uninterrupted crawl, with none of
    the earlier crawl's frontier or seen urls."""
    ck = str(tmp_path / "ck")
    old_origin, old_pages = _chain_pages(spark, 8, host="old.example")
    crawl(spark, CrawlConfig(origin=old_origin, checkpoint_dir=ck,
                             max_supersteps=6), old_pages)
    origin, pages = _chain_pages(spark, 8)
    cfg = CrawlConfig(origin=origin, continue_on_error=True)
    crawl(spark, cfg.with_(checkpoint_dir=ck, max_supersteps=2), pages)
    assert CrawlCheckpoint(spark, ck).last_superstep() == 1

    def state(res):
        return ([r.url for r in res.crawl_log.orderBy("visit_seq").collect()],
                {r.url for r in res.seen.collect()})

    resumed = crawl(spark, cfg.with_(checkpoint_dir=ck), pages, resume=True)
    assert state(resumed) == state(crawl(spark, cfg, pages))


def _node_names(df):
    """Operator names of df's physical plan, top down (no ids, no args)."""
    import re

    from suckit_spark.plans.crawl import _plan_string

    return [re.match(r"[\s:|+-]*(?:\*\(\d+\) )?(\w+)", line).group(1)
            for line in _plan_string(df, "simple").splitlines()
            if line.strip() and not line.startswith("==")]


def test_views_plan_is_one_store_read(spark):
    """The views a crawl returns read the result store once: their plans
    hold no Union over per-superstep scans, and a 3-superstep and a
    10-superstep crawl give the same operator tree. metrics also joins the
    seen set, whose in-memory delta union is its own (it adds no other)."""
    origin, pages = _chain_pages(spark, 12)
    cfg = CrawlConfig(origin=origin)
    short = crawl(spark, cfg.with_(max_supersteps=3), pages)
    long = crawl(spark, cfg.with_(max_supersteps=10), pages)
    assert (short.supersteps, long.supersteps) == (3, 10)
    for name in ("store", "crawl_log", "mirror"):
        plan = _node_names(getattr(long, name))
        assert "Union" not in plan, name
        assert _node_names(getattr(short, name)) == plan, name
    for res in (short, long):
        assert (_node_names(res.metrics).count("Union")
                == _node_names(res.seen).count("Union"))
    short.close()
    long.close()
