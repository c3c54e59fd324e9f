"""Structured Streaming extension: landing-zone ingest over the fixture
pages, verified against the batch page pipeline (same code path) with
``availableNow`` triggers and memory sinks."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from suckit_spark.config import CrawlConfig
from suckit_spark.sources import fixtures
from suckit_spark.streaming import pipeline as sp


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    """Fixture site written to a parquet landing zone in two file batches
    (so maxFilesPerTrigger exercises multi-batch behavior)."""
    d = str(tmp_path_factory.mktemp("landing"))
    pages = fixtures.pages_df(spark, fixtures.site_a())
    pages.repartition(2).write.mode("overwrite").parquet(d)
    return d


def run_to_memory(spark, df, name, output_mode="append"):
    import tempfile
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (
        df.writeStream.format("memory").queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


@pytest.fixture(scope="module")
def cfg():
    return CrawlConfig(origin="http://0.0.0.0/", continue_on_error=True)


def test_extract_stream_matches_batch(spark, landing, cfg, tmp_path):
    stream = sp.extract_stream(cfg, sp.read_page_stream(
        spark, landing, max_files_per_trigger=1))
    got = run_to_memory(spark, stream, "extract").collect()

    # batch twin: run process_page directly over the same rows
    from suckit_spark.operators.page_pipeline import process_page
    rows = fixtures.pages_df(spark, fixtures.site_a()).collect()
    expect = {}
    for r in rows:
        res = process_page(cfg, r.url, bytes(r.html), r.content_type)
        expect[r.url] = [(l["url"], l["external"], l["pos"])
                         for l in res["links"]]
    assert len(got) == len(rows)
    for r in got:
        assert r.status == "ok"
        assert [(l.url, l.external, l.pos) for l in r.links] == expect[r.url]


def test_dedup_stream_first_wins(spark, landing, cfg):
    stream = sp.candidates_stream(sp.extract_stream(cfg, sp.read_page_stream(
        spark, landing)))
    deduped = sp.dedup_stream(stream)
    got = run_to_memory(spark, deduped, "dedup").collect()
    urls = [r.url for r in got]
    assert len(urls) == len(set(urls)), "dedup_stream must emit each URL once"
    # same seen-set as the batch candidates, keyed fragment-inclusive
    all_cands = run_to_memory(
        spark,
        sp.candidates_stream(sp.extract_stream(
            cfg, sp.read_page_stream(spark, landing))),
        "dedup_all")
    assert set(urls) == {r.url for r in all_cands.collect()}


def test_host_metrics_stream_counts(spark, landing, cfg):
    stream = sp.host_metrics_stream(
        sp.extract_stream(cfg, sp.read_page_stream(spark, landing)))
    # append mode only emits closed windows; with availableNow the watermark
    # advances past the fixed warc_ts after the batch, so emit via update
    got = run_to_memory(spark, stream, "metrics", output_mode="update").collect()
    by_host = {r.host: r for r in got}
    from urllib.parse import urlsplit
    expect = {}
    for row in fixtures.site_a():
        h = urlsplit(row["url"]).hostname
        expect[h] = expect.get(h, 0) + 1
    assert {h: r.pages for h, r in by_host.items()} == expect
    assert all(r.errors == 0 for r in got)


def test_corpus_stream_keeps_html_pages_only(spark, landing):
    """Only HTML pages become documents, as in the batch bridge and WARC
    ingest: site_a's JPEG, MP3 and text file do not."""
    stream = sp.corpus_stream(sp.read_page_stream(spark, landing))
    got = {r.url for r in run_to_memory(spark, stream, "corpus_html").collect()}
    types = {r["url"]: r["content_type"] for r in fixtures.site_a()}
    assert "http://0.0.0.0/jpeg.jpg" in types
    assert got == {u for u, t in types.items()
                   if t is None or t.startswith("text/html")}


def test_politeness_stream_budget_and_sequence(spark, landing, cfg):
    cands = sp.candidates_stream(sp.extract_stream(
        cfg, sp.read_page_stream(spark, landing)))
    admitted = sp.politeness_stream(cands, budget=2)
    got = run_to_memory(spark, admitted, "polite", output_mode="update").collect()
    assert got, "politeness stream emitted nothing"
    per_host_admitted = {}
    for r in got:
        if r.admitted:
            per_host_admitted.setdefault(r.host, []).append(r.host_seq)
    for host, seqs in per_host_admitted.items():
        # batch budget respected and sequence strictly increasing from 1
        assert sorted(seqs) == list(range(1, len(seqs) + 1)), (host, seqs)
    # deferred rows are present, not dropped
    n_admit = sum(1 for r in got if r.admitted)
    n_defer = sum(1 for r in got if not r.admitted)
    assert n_admit + n_defer == len(got)


def test_politeness_stream_keys_urls_java_rejects(spark, cfg, tmp_path):
    """A link java.net.URI rejects (``|``, kept by the URL resolver) is
    keyed by its host instead of failing the query with INVALID_URL under
    ANSI mode."""
    d = str(tmp_path / "landing")
    fixtures.pages_df(spark, [fixtures._row(
        "http://0.0.0.0/", b'<html><body><a href="a|b.html">x</a></body></html>',
        "text/html")]).write.parquet(d)
    cands = sp.candidates_stream(sp.extract_stream(
        cfg, sp.read_page_stream(spark, d)))
    got = run_to_memory(spark, sp.politeness_stream(cands, budget=2),
                        "polite_pipe", output_mode="update").collect()
    assert [(r.host, r.url, r.admitted, r.host_seq) for r in got] == [
        ("0.0.0.0", "http://0.0.0.0/a|b.html", 1, 1)]


def test_corpus_stream_matches_batch_extraction(spark, landing, cfg):
    """corpus_stream emits documents-shaped rows whose text equals the
    pure-Python extract_text of the landed page bytes (the same byte
    contract as the batch bridge, pipeline.corpus_from_crawl)."""
    from suckit_spark.functions import htmlkit

    stream = sp.corpus_stream(
        sp.read_page_stream(spark, landing, max_files_per_trigger=1))
    got = {r.url: r for r in run_to_memory(spark, stream, "corpus").collect()}

    want = {
        r["url"]: htmlkit.extract_text(
            r["html"].decode("utf-8", errors="replace"))
        for r in fixtures.site_a() if r["html"] is not None
        and htmlkit.is_html_type(htmlkit.header_data_type(r["content_type"]))}
    assert set(got) == set(want)
    for url, text in want.items():
        assert got[url].text == text, url
        assert got[url].n_chars == len(text)
        assert got[url].source == url.split("//")[1].split("/")[0]
        assert isinstance(got[url].doc_id, int)
