"""Crawl output → training-corpus bridge.

The two halves of this engine — the BSP crawl (plans/crawl.py) and the
curation operators (operators/webtext.py) — meet here: ``corpus_from_crawl``
turns a finished :class:`CrawlResult` into a ``documents``-shaped DataFrame
(``doc_id, url, text, lang, source, n_chars``) that every webtext operator
(dedup, quality, sampling, decontamination, tf-idf, PageRank over the link
graph) consumes directly. At the design point this is the hand-off from the
crawl's Iceberg output to the data pipeline's input — one column-pruned scan
plus one Arrow stage, no driver-side data movement.

Invariant (BASELINE.json input_hint: "byte-identical extracted text per
url"): link rewriting touches only attribute VALUES inside tags, never
character data, so the text extracted from a MIRRORED page equals the text
of the original fetched page byte-for-byte — pinned by test against the
pure-Python oracle over the original fixture bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.frontier import host_col
from .plans.crawl import CrawlResult


#: stopwords for the corpus lang column — same set the webtext heuristic uses
def _lang_guess_col(text_col: str = "text"):
    from .operators.webtext import EN_STOPWORDS, tokens_col

    toks = tokens_col(F.col(text_col))
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    ratio = (F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
             / F.greatest(F.size(toks), F.lit(1)))
    return F.when(ratio >= 0.04, F.lit("en")).otherwise(F.lit("other"))


def _documents(extracted: DataFrame, *extra: str) -> DataFrame:
    """The documents-table projection both crawl bridges end in: ``doc_id =
    xxhash64(url)`` (stable, join-friendly, collision-safe at 10^10 urls for
    dedup purposes), ``source`` = the URL's host (as ``wet_to_documents``
    reads it), plus the ``extra`` columns."""
    return extracted.select(
        F.xxhash64("url").alias("doc_id"),
        "url",
        "text",
        _lang_guess_col().alias("lang"),
        host_col("url").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
        *extra,
    )


def corpus_from_crawl(spark: SparkSession, result: CrawlResult) -> DataFrame:
    """Documents table from a finished crawl: one row per successfully
    fetched HTML page, ``text`` extracted from the mirrored bytes with the
    crawl's own decode (its stored charset) and span scanner. The
    extraction is one stateless Arrow stage over the column-pruned store
    scan — partition-parallel, nothing collected."""
    pages = (
        result.store
        .filter((F.col("status") == "ok") & (F.col("kind") == "html")
                & F.col("content").isNotNull())
        .select("url", "content", "charset"))

    def _extract(batches):
        from .functions import htmlkit

        for pdf in batches:
            texts = [
                htmlkit.extract_text(htmlkit.decode_page(
                    bytes(content), charset=charset)[1])
                for content, charset in zip(pdf["content"], pdf["charset"])]
            yield pdf.assign(text=texts)[["url", "text"]]

    return _documents(pages.mapInPandas(_extract, "url string, text string"))
