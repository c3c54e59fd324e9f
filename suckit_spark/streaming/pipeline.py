"""Structured Streaming variant of the crawl's ingest side (engine extension).

The reference's crawl loop is bulk-synchronous (one frontier generation per
superstep; plans/crawl.py) — BSP is the parity surface. But a production
100 TB pipeline also runs *continuously*: fetchers append newly-fetched pages
to a landing zone, and the engine must parse, extract, dedup, and meter them
as they arrive. That side has no reference counterpart (suckit is a one-shot
CLI); it is designed Spark-first here:

* ``read_page_stream`` — file-source ``readStream`` over the landing zone
  with the explicit PAGES_SCHEMA (no inference in a stream).
* ``extract_stream`` — the SAME fused Arrow page pipeline (P1-P11) applied
  via stateless ``mapInPandas``; batch and stream share one code path, so
  byte-parity tests on the batch side cover the stream too.
* ``candidates_stream`` — posexplode of discovered links.
* ``dedup_stream`` — the streaming seen-set: watermark on ``warc_ts`` +
  ``dropDuplicates`` on the fragment-inclusive URL key (the same P8 key
  semantics, scraper.rs:202), with state bounded by the watermark.
* ``host_metrics_stream`` — per-host tumbling-window metrics (watermark +
  windowed agg), the streaming twin of the per-superstep metrics table.
* ``politeness_stream`` — per-host politeness as a CUSTOM STATEFUL operator
  (``applyInPandasWithState``): a token-bucket per host admits at most
  ``budget`` URLs per micro-batch and defers the rest, mirroring the BSP
  host-budget operator (operators/frontier.py C3).

All operators accept and return unresolved streaming DataFrames; callers pick
trigger/sink (tests use ``availableNow`` + memory sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from ..config import CrawlConfig
from ..operators.frontier import host_col
from ..schemas import PAGES_SCHEMA


def read_page_stream(spark: SparkSession, landing_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming scan of the landing zone (parquet files of PAGES_SCHEMA).
    ``maxFilesPerTrigger`` bounds micro-batch size for steady backpressure."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(landing_dir)


def extract_stream(cfg: CrawlConfig, pages: DataFrame) -> DataFrame:
    """Fused page pipeline over the stream — stateless ``mapInPandas`` reusing
    the batch implementation verbatim (operators/page_pipeline.py)."""
    import pandas as pd

    from ..functions import urlkit
    from ..operators.page_pipeline import process_page

    schema = ("url string, warc_ts timestamp, host string, path string, "
              "status string, n_links int, "
              "links array<struct<url:string,external:boolean,pos:int>>")

    def run(batches):
        cols = ["url", "warc_ts", "host", "path", "status", "n_links", "links"]
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                if r.html is None:
                    out.append({
                        "url": r.url, "warc_ts": r.warc_ts,
                        "host": urlkit.url_host(r.url),
                        "path": None, "status": "error",
                        "n_links": 0, "links": [],
                    })
                    continue
                res = process_page(cfg, r.url, bytes(r.html), r.content_type)
                links = [
                    {"url": l["url"], "external": l["external"], "pos": l["pos"]}
                    for l in res["links"]
                ]
                out.append({
                    "url": r.url,
                    "warc_ts": r.warc_ts,
                    "host": urlkit.url_host(r.url),
                    "path": urlkit.to_path(r.url, False),
                    "status": "ok",
                    "n_links": len(links),
                    "links": links,
                })
            yield pd.DataFrame(out, columns=cols)

    return pages.mapInPandas(run, schema)


def corpus_stream(pages: DataFrame) -> DataFrame:
    """Streaming twin of ``pipeline.corpus_from_crawl``: documents-shaped
    rows (``doc_id, url, text, lang, source, n_chars, warc_ts``) as pages
    land — the continuous feed into the curation operators. Same
    charset-detect + span-scanner text contract as the batch bridge and the
    crawl itself (byte-identical per url, BASELINE.json input_hint); one
    stateless Arrow stage, so batch tests cover the stream's kernel too.
    Only HTML pages (by Content-Type, missing means HTML, as the crawl reads
    it) become documents, as in the batch bridge and WARC ingest."""
    import pandas as pd

    from ..functions import htmlkit
    from ..pipeline import _documents

    def run(batches):
        cols = ["url", "warc_ts", "text"]
        for pdf in batches:
            out = [
                {"url": r.url, "warc_ts": r.warc_ts,
                 "text": htmlkit.extract_text(htmlkit.decode_page(
                     bytes(r.html), r.content_type)[1])}
                for r in pdf.itertuples() if r.html is not None
                and htmlkit.is_html_type(
                    htmlkit.header_data_type(r.content_type))]
            yield pd.DataFrame(out, columns=cols)

    return _documents(pages.mapInPandas(
        run, "url string, warc_ts timestamp, text string"), "warc_ts")


def candidates_stream(extracted: DataFrame) -> DataFrame:
    """One row per discovered link, document order preserved in ``pos``."""
    return extracted.select(
        F.col("url").alias("parent_url"), "warc_ts",
        F.explode("links").alias("link"),
    ).select(
        "parent_url", "warc_ts",
        F.col("link.url").alias("url"),
        F.col("link.external").alias("external"),
        F.col("link.pos").alias("pos"),
    )


def dedup_stream(candidates: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming seen-set: first arrival of each URL key passes, duplicates
    are dropped by engine-managed state. The key is the fragment-inclusive
    URL — same dedup semantics as the BSP anti-join (P8).

    State boundedness: ``dropDuplicates(['url'])`` alone NEVER evicts state
    (the watermark only bounds dedup state when the event-time column is part
    of the key), so a continuous run would grow the seen-set without bound.
    ``dropDuplicatesWithinWatermark`` keys on ``url`` but lets the engine
    evict entries once they age past the watermark — duplicates arriving
    within the watermark window are dropped, older re-arrivals may pass
    (the documented trade for bounded state; an exact continuous seen-set
    needs the batch anti-join against the committed seen table instead)."""
    return (candidates.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["url"]))


def host_metrics_stream(extracted: DataFrame, window: str = "1 minute",
                        watermark: str = "10 minutes") -> DataFrame:
    """Per-host tumbling-window crawl metrics (streaming twin of the BSP
    metrics table): pages, links discovered, errors."""
    return (
        extracted.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "host")
        .agg(
            F.count("*").alias("pages"),
            F.sum("n_links").cast("long").alias("links"),
            F.sum((F.col("status") == "error").cast("long")).alias("errors"),
        )
        .select(F.col("w.start").alias("window_start"), "host", "pages",
                "links", "errors")
    )


POLITENESS_OUTPUT = StructType([
    StructField("host", StringType()),
    StructField("url", StringType()),
    StructField("admitted", IntegerType()),   # 1 admitted, 0 deferred
    StructField("host_seq", LongType()),      # 1-based fetch sequence per host
])

POLITENESS_STATE = StructType([StructField("issued", LongType())])


def politeness_stream(candidates: DataFrame, budget: int) -> DataFrame:
    """Custom stateful operator: per-host token bucket via
    ``applyInPandasWithState``. Each micro-batch admits at most ``budget``
    URLs per host (deterministic order: sorted by URL within the batch, the
    cross-batch sequence carried in state); the rest are emitted with
    ``admitted = 0`` so a downstream requeue can defer them — the streaming
    analogue of the BSP host-budget deferral (never drops)."""
    import pandas as pd

    def admit(key, pdf_iter, state):
        (host,) = key
        issued = state.get[0] if state.exists else 0
        rows = []
        admitted_this_batch = 0
        for pdf in pdf_iter:
            for url in sorted(pdf["url"]):
                if admitted_this_batch < budget:
                    admitted_this_batch += 1
                    issued += 1
                    rows.append((host, url, 1, issued))
                else:
                    rows.append((host, url, 0, 0))
        state.update((issued,))
        yield pd.DataFrame(rows, columns=["host", "url", "admitted", "host_seq"])

    keyed = candidates.select(
        F.coalesce(host_col("url"), F.lit("")).alias("host"), "url")
    return keyed.groupBy("host").applyInPandasWithState(
        admit,
        outputStructType=POLITENESS_OUTPUT,
        stateStructType=POLITENESS_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
