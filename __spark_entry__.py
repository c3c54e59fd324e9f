"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2.6 (the crawl loop's relational primitives, exercised over the
driver's TPC-H-ish tables) plus the training-data pipeline operators
(deduplication, similarity search, text analysis) over ``documents`` /
``embeddings``. ``oracle_sql()`` gives a DuckDB twin for EVERY query —
md5 banding, bit_count/shift arithmetic, and literal hyperplane lists cover
the LSH/SimHash shapes; brute-force SQL joins stand in for the bucketed pair
generators (the oracle only has to agree on the answer, not the plan).
Sole exception: ``crawl_to_corpus`` runs the BSP crawl + corpus bridge
end-to-end and is deliberately rows-only — the crawl is not
SQL-expressible; its byte-level contract is pinned by the pytest oracles.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from suckit_spark.operators import webtext  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ===========================================================================
# entry — flagship: a full BSP crawl over a pages corpus derived from the
# sf0.001 documents table (each document becomes a page in a deterministic
# link graph), returning the per-superstep, per-host crawl metrics.
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    from suckit_spark.config import CrawlConfig
    from suckit_spark.plans.crawl import crawl
    from suckit_spark.schemas import PAGES_SCHEMA

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    n = docs.count()

    # Derive a crawlable web: doc i lives on host h{i % 7}, links to docs
    # (i*2+1) % n and (i*3+2) % n. Pure column expressions; bodies rendered
    # JVM-side with format_string; no driver-side loop.
    def url_for(c):
        return F.format_string("http://h%d.docs.example/d%d.html",
                               F.pmod(c, F.lit(7)).cast("int"), c.cast("int"))

    body = F.format_string(
        '<html><head><meta charset="UTF-8"><title>d%d</title></head>'
        '<body><p>%s</p><a href="%s">a</a> <a href="%s">b</a></body></html>',
        F.col("doc_id").cast("int"),
        F.col("text"),
        url_for((F.col("doc_id") * 2 + 1) % n),
        url_for((F.col("doc_id") * 3 + 2) % n),
    )
    pages = docs.select(
        url_for(F.col("doc_id")).alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        body.cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.lit("text/html").alias("content_type"),
        F.lit(None).cast("string").alias("content_disposition"),
        F.lit(False).alias("requires_auth"),
        F.lit(None).cast("string").alias("auth_user"),
        F.lit(None).cast("string").alias("auth_pass"),
        F.lit(200).alias("status"),
    )

    cfg = CrawlConfig(origin="http://h0.docs.example/d0.html",
                      ext_depth=-1, continue_on_error=True,
                      max_supersteps=6)
    result = crawl(spark, cfg, pages)
    return result.metrics.orderBy("superstep", "host")


# ===========================================================================
# queries — (spark, sf_dir) -> DataFrame
# ===========================================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- crawl relational primitives (SURVEY.md §2.6) over TPC-H-ish tables

    def visit_filter_rlike(spark, sf):
        # F1/F3: include/exclude regex filters (rlike, codegen'd)
        docs = _t(spark, sf, "documents")
        return (
            docs.filter(F.col("source").rlike("src1[0-9]")
                        & ~F.col("text").rlike("window"))
            .select("doc_id", "source", "n_chars")
        )
    q["visit_filter_rlike"] = visit_filter_rlike

    def dedup_anti_join(spark, sf):
        # P8: seen-set membership as a left-anti join (customers that never
        # placed an urgent order — the filter keeps the result non-trivial)
        cust = _t(spark, sf, "customer")
        orders = _t(spark, sf, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT")
        return (
            cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                      "left_anti")
            .select("c_custkey", "c_name")
        )
    q["dedup_anti_join"] = dedup_anti_join

    def first_wins_window(spark, sf):
        # P8: order-preserving first-discoverer-wins dedup (window + rank)
        from pyspark.sql.window import Window
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "ts", "event_type")
        )
    q["first_wins_window"] = first_wins_window

    def sessionize_events(spark, sf):
        # Gap-based sessionization (lag + conditional running sum): a new
        # session starts after a >30-min silence per user. The gap compare
        # is pure timestamp-interval arithmetic (microsecond-exact in both
        # engines, no timezone interpretation of the NTZ column).
        from pyspark.sql.window import Window
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        prev = F.lag("ts").over(w)
        new_sess = F.when(
            prev.isNull()
            | (F.col("ts") > prev + F.expr("INTERVAL 1800 SECONDS")),
            1).otherwise(0)
        run = Window.partitionBy("user_id").orderBy("ts", "event_id") \
            .rowsBetween(Window.unboundedPreceding, 0)
        return ev.select(
            "event_id", "user_id", "ts",
            F.sum(new_sess).over(run).cast("long").alias("session_idx"))
    q["sessionize_events"] = sessionize_events

    def host_budget_topk(spark, sf):
        # C3: per-host politeness budget as a windowed top-k
        from pyspark.sql.window import Window
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("event_type").orderBy(
            F.col("value").desc(), F.col("event_id"))
        return (
            ev.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("event_type", "rk", "event_id",
                    F.round("value", 6).alias("value"))
        )
    q["host_budget_topk"] = host_budget_topk

    def fetch_left_join(spark, sf):
        # S2/S3: fetch = left join; absent rows become error rows
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        joined = orders.join(
            cust, orders["o_custkey"] == cust["c_custkey"], "left")
        return (
            joined.groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
                .alias("n_missing"),
            )
        )
    q["fetch_left_join"] = fetch_left_join

    def frontier_explode_union(spark, sf):
        # P4: one page -> many candidates (explode) + union of two passes
        docs = _t(spark, sf, "documents")
        toks = docs.select(
            "doc_id", F.explode(webtext.tokens_col()).alias("token"))
        local = toks.filter(F.col("token").rlike("^[a-m]"))
        ext = toks.filter(F.col("token").rlike("^[n-z]"))
        return (
            local.unionByName(ext)
            .groupBy("token").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 100)
        )
    q["frontier_explode_union"] = frontier_explode_union

    def superstep_metrics_agg(spark, sf):
        # O11-style metrics rollup (TPC-H Q1 shape: wide agg after filter)
        li = _t(spark, sf, "lineitem")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                # Cast to decimal BEFORE summing: decimal addition is exact and
                # order-independent, so the result is bitwise-stable across
                # partitionings/engines (double summation is not — it cost a
                # last-ulp hash flake in round 1). The final cast to double is
                # one IEEE round-to-nearest of the same exact decimal on both
                # engines, keeping the hashed representation uniform (pandas
                # Decimal vs DuckDB float64 would otherwise stringify apart).
                F.sum(F.col("l_quantity").cast("decimal(20,2)"))
                .cast("double").alias("sum_qty"),
                F.sum(F.col("l_extendedprice").cast("decimal(20,2)"))
                .cast("double").alias("sum_base_price"),
                F.count("*").alias("count_order"),
            )
        )
    q["superstep_metrics_agg"] = superstep_metrics_agg

    def depth_gate_filter(spark, sf):
        # F5/F6: depth-gate-style predicate with projection pruning
        orders = _t(spark, sf, "orders")
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01"))
                & (F.col("o_orderpriority") == "1-URGENT"))
            .select("o_orderkey", "o_custkey", "o_orderdate")
        )
    q["depth_gate_filter"] = depth_gate_filter

    def bfs_frontier_levels(spark, sf):
        # D2/C2: the BSP frontier loop itself over a derived link graph —
        # doc i -> (2i+1) % n and (3i+2) % n; BFS from 0, 4 levels.
        # (Driver loop of anti-joins; DuckDB twin is a recursive CTE.)
        docs = _t(spark, sf, "documents").select("doc_id")
        n = docs.count()
        edges = docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(
                (F.col("doc_id") * 2 + 1) % n,
                (F.col("doc_id") * 3 + 2) % n)).alias("dst"),
        )
        spark_ = spark
        frontier = spark_.createDataFrame([(0, 0)], "node long, level int")
        seen = frontier
        for lvl in range(1, 5):
            nxt = (
                edges.join(F.broadcast(frontier), edges["src"] == frontier["node"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(seen.select("node"), "node", "left_anti")
                .withColumn("level", F.lit(lvl))
            )
            nxt = nxt.localCheckpoint(eager=True)
            seen = seen.unionByName(nxt)
            frontier = nxt
        return seen.groupBy("level").agg(
            F.count("*").alias("n_nodes"), F.min("node").alias("min_node"),
            F.max("node").alias("max_node"))
    q["bfs_frontier_levels"] = bfs_frontier_levels

    def pagerank_fixed_point(spark, sf):
        # Link-graph centrality over the same derived graph as the BFS query
        # (doc i -> (2i+1)%n and (3i+2)%n). Fixed-point integer PageRank
        # (operators/graph.py): scaled-long ranks, truncating division —
        # bit-reproducible at any parallelism, so the DuckDB twin hash-matches.
        from suckit_spark.operators import graph

        docs = _t(spark, sf, "documents").select("doc_id")
        n = docs.count()
        edges = docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(
                (F.col("doc_id") * 2 + 1) % n,
                (F.col("doc_id") * 3 + 2) % n)).alias("dst"),
        )
        return graph.pagerank_fixed_point(edges, iters=3)
    q["pagerank_fixed_point"] = pagerank_fixed_point

    def to_path_scalar(spark, sf):
        # P7: deterministic URL->path style scalar mapping (md5 fallback rule)
        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id",
            F.concat(F.col("source"), F.lit("/"),
                     F.when(F.col("n_chars") > 300,
                            F.concat(F.md5("text"), F.lit(".html")))
                     .otherwise(F.concat(F.col("doc_id").cast("string"),
                                         F.lit("/index.html"))))
            .alias("path"),
        )
    q["to_path_scalar"] = to_path_scalar

    # ---- training-data pipeline: deduplication

    q["exact_dedup"] = lambda spark, sf: webtext.exact_dedup(
        _t(spark, sf, "documents"))

    q["ngram_jaccard_pairs"] = lambda spark, sf: webtext.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), n=3, threshold=0.2, max_df=20)

    # exact uncapped Jaccard: the row keeps its name, but the prefix-filtered
    # join it used to run was retired (slower at the measured scale,
    # BENCH/PREFIX_JOIN.md); the one uncapped equi-self-join gives the same
    # pairs, checked against the plain uncapped SQL
    q["ngram_jaccard_prefix"] = lambda spark, sf: webtext.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), n=3, threshold=0.2, max_df=None)

    q["near_dup_clusters"] = lambda spark, sf: webtext.near_dup_clusters(
        webtext.ngram_jaccard_pairs(
            _t(spark, sf, "documents"), n=3, threshold=0.2, max_df=20))

    q["dedup_keep_canonical"] = lambda spark, sf: webtext.dedup_keep_canonical(
        _t(spark, sf, "documents"),
        webtext.ngram_jaccard_pairs(
            _t(spark, sf, "documents"), n=3, threshold=0.2, max_df=20),
    ).select("doc_id")

    q["minhash_signatures"] = lambda spark, sf: webtext.minhash_signatures(
        _t(spark, sf, "documents"), num_hashes=8)

    q["minhash_lsh_pairs"] = lambda spark, sf: webtext.minhash_lsh_pairs(
        _t(spark, sf, "documents"), num_hashes=16, bands=4)

    # hot-bucket cap (max_bucket): degenerate (band, hash) buckets dropped
    # before any pair exists — the LSH analogue of max_df
    q["minhash_lsh_pairs_capped"] = lambda spark, sf: webtext.minhash_lsh_pairs(
        _t(spark, sf, "documents"), num_hashes=16, bands=4, max_bucket=10)

    q["simhash_fingerprints"] = lambda spark, sf: webtext.simhash(
        _t(spark, sf, "documents"))

    q["simhash_near_pairs"] = lambda spark, sf: webtext.simhash_near_pairs(
        _t(spark, sf, "documents"), max_hamming=8)

    q["embedding_near_dup"] = lambda spark, sf: webtext.embedding_near_dup(
        _t(spark, sf, "embeddings"), threshold=0.4)

    q["embedding_near_dup_lsh"] = lambda spark, sf: (
        webtext.embedding_near_dup_lsh(
            _t(spark, sf, "embeddings"), threshold=0.4,
            num_planes=4, num_tables=12))

    # ---- similarity search

    q["cosine_topk"] = lambda spark, sf: webtext.cosine_topk(
        _t(spark, sf, "embeddings"), query_vec_id=0, k=10)

    q["ann_lsh_buckets"] = lambda spark, sf: webtext.ann_lsh_buckets(
        _t(spark, sf, "embeddings"), num_planes=12)

    q["ann_bucketed_topk"] = lambda spark, sf: webtext.ann_bucketed_topk(
        _t(spark, sf, "embeddings"), query_vec_id=0, k=10, num_planes=8)

    q["ivf_topk"] = lambda spark, sf: webtext.ivf_topk(
        _t(spark, sf, "embeddings"), query_vec_id=0, k=10,
        n_centroids=8, n_probe=3)

    # trained-centroid variant — rows-only (pyspark.ml KMeans has no SQL
    # twin); recall >= the prefix-centroid default is pinned by pytest
    q["ivf_topk_kmeans"] = lambda spark, sf: webtext.ivf_topk(
        _t(spark, sf, "embeddings"), query_vec_id=0, k=10,
        n_centroids=8, n_probe=3, centroids="kmeans")

    # ---- text analysis

    q["lang_id_heuristic"] = lambda spark, sf: webtext.lang_id_heuristic(
        _t(spark, sf, "documents"))

    q["quality_score"] = lambda spark, sf: webtext.quality_score(
        _t(spark, sf, "documents"))

    q["token_counts"] = lambda spark, sf: webtext.token_counts(
        _t(spark, sf, "documents"))

    q["doc_fingerprint"] = lambda spark, sf: webtext.doc_fingerprint(
        _t(spark, sf, "documents"))

    # Gopher-style repetition features (dup lines, top n-gram text share)
    q["repetition_scores"] = lambda spark, sf: webtext.repetition_scores(
        _t(spark, sf, "documents"))

    # deterministic data-mixing: hash-predicate stratified sampling by source
    q["stratified_sample"] = lambda spark, sf: webtext.stratified_sample(
        _t(spark, sf, "documents"),
        rates={"src0": 0.8, "src1": 0.5}, default_rate=0.25)

    # GPT-3-style n-gram decontamination vs a benchmark subset
    # (docs with doc_id % 17 == 0 stand in for the benchmark corpus)
    q["benchmark_overlap"] = lambda spark, sf: webtext.benchmark_overlap(
        _t(spark, sf, "documents"),
        _t(spark, sf, "documents").filter(F.col("doc_id") % 17 == 0),
        n=3)

    # substring-level duplication signal (w-token windows shared across docs)
    q["repeated_spans"] = lambda spark, sf: webtext.repeated_spans(
        _t(spark, sf, "documents"), w=5)

    # per-doc top-k terms by ratio-form tf-idf (bit-deterministic ranking)
    q["tfidf_topk_terms"] = lambda spark, sf: webtext.tfidf_topk_terms(
        _t(spark, sf, "documents"), k=3)

    def pii_redact(spark, sf):
        # PII scrub. The synthetic corpus carries no natural PII, so the
        # query plants one email + one IPv4 + one phone per row from doc_id
        # (both engines build the identical augmented string), making every
        # row exercise all three redaction passes — the value hash then
        # pins count AND replacement semantics cross-engine.
        docs = _t(spark, sf, "documents").select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com via 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 call +1 555 0100 9"),
            ).alias("text"))
        return webtext.pii_redact(docs)
    q["pii_redact"] = pii_redact

    # CCNet/Dolma-style paragraph dedup (fixed 20-token chunks stand in for
    # paragraphs); a chunk seen in >1 distinct docs is boilerplate and is
    # dropped from all of them, docs reassembled from survivors in order.
    q["chunk_dedup"] = lambda spark, sf: webtext.chunk_dedup(
        _t(spark, sf, "documents"), chunk_len=20, max_docs=1)

    def chunk_dedup_paragraphs(spark, sf):
        # Real-web-text mode: NEWLINE paragraphs with CCNet-style key
        # normalization. The synthetic corpus has no newlines, so the query
        # builds a newline-bearing fixture both engines construct
        # identically: each doc = its own text (unique paragraph) + a shared
        # boilerplate footer whose CASING/PUNCTUATION alternates by doc_id
        # parity (pinning the normalized key cross-engine — all variants
        # must hash equal) + a per-doc unique tail.
        docs = _t(spark, sf, "documents").select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit("\n"),
                F.when(F.col("doc_id") % 2 == 0,
                       F.lit("Shared Boilerplate, Footer!"))
                .otherwise(F.lit("shared BOILERPLATE footer")),
                F.lit("\n"),
                F.lit("unique tail "), F.col("doc_id").cast("string"),
            ).alias("text"))
        return webtext.chunk_dedup(docs, max_docs=1)
    q["chunk_dedup_paragraphs"] = chunk_dedup_paragraphs

    # CCNet-shape quality signal: add-alpha unigram LM perplexity per doc,
    # self-trained (the repetition/boilerplate signal; a held-out `train`
    # corpus gives true out-of-domain perplexity)
    q["lm_perplexity"] = lambda spark, sf: webtext.lm_perplexity(
        _t(spark, sf, "documents"))

    # conditional bigram model (KenLM direction): the same operator at order 2
    q["lm_perplexity_bigram"] = lambda spark, sf: webtext.lm_perplexity(
        _t(spark, sf, "documents"), order=2)

    # decontamination at the GPT-3 paper setting (n=13): the n=3 row above
    # exercises the dataflow; this one exercises the sparse-hit regime real
    # decontamination runs in (13-gram collisions are rare and concentrated
    # in genuinely repeated boilerplate).
    q["benchmark_overlap_13"] = lambda spark, sf: webtext.benchmark_overlap(
        _t(spark, sf, "documents"),
        _t(spark, sf, "documents").filter(F.col("doc_id") % 17 == 0),
        n=13)

    def crawl_to_corpus(spark, sf):
        # End-to-end bridge (suckit_spark/pipeline.py): crawl the fixture
        # site, then build the documents-shaped corpus from the crawl output.
        # Deliberately rows-only (no oracle_sql entry): the BSP crawl is not
        # SQL-expressible; the byte-identity of `text` vs the original pages
        # is pinned by tests/test_pipeline.py against the pure-Python oracle.
        from suckit_spark import CrawlConfig, crawl, pipeline
        from suckit_spark.sources import fixtures

        cfg = CrawlConfig(origin="http://0.0.0.0/", continue_on_error=True)
        res = crawl(spark, cfg, fixtures.pages_df(spark, fixtures.site_a()))
        return pipeline.corpus_from_crawl(spark, res).orderBy("doc_id")
    q["crawl_to_corpus"] = crawl_to_corpus

    def robots_join_gate(spark, sf):
        # The scale-path robots gate (operators/robots.py:apply_robots_join):
        # candidates derived from documents (doc i lives at
        # http://<source>.example/doc/<i>.html), a deterministic rules table
        # keyed by source number m = N % 3 (m=0 disallows /doc/1*, m=1
        # disallows /doc/2* and /doc/3*, m=2 has no rules row = allow), one
        # left equi-join on host + JVM prefix predicate — no broadcast dict.
        from suckit_spark.operators import robots as robots_ops
        docs = _t(spark, sf, "documents")
        cand = docs.select(
            "doc_id",
            F.format_string("http://%s.example/doc/%d.html",
                            F.col("source"),
                            F.col("doc_id").cast("int")).alias("url"))
        m = F.pmod(F.substring("source", 4, 10).cast("int"), F.lit(3))
        rules = (
            docs.select("source").distinct()
            .withColumn("m", m).filter(F.col("m") != 2)
            .select(
                F.concat(F.col("source"), F.lit(".example")).alias("host"),
                F.when(F.col("m") == 0, F.array(F.lit("/doc/1")))
                .otherwise(F.array(F.lit("/doc/2"), F.lit("/doc/3")))
                .alias("prefixes")))
        return robots_ops.apply_robots_join(cand, rules).select("doc_id", "url")

    q["robots_join_gate"] = robots_join_gate

    return q


# ===========================================================================
# oracle_sql — DuckDB twins (tables pre-registered as views)
# ===========================================================================

_TOKENS = ("list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
           "x -> x <> '')")
_STOPS = "['the','a','and','of','to','in','is','it','that','for']"


def _shingles(n: int = 3) -> str:
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"[array_to_string(list_slice(toks, i, i+{n - 1}), ' ') "
        f"for i in generate_series(1, len(toks) - {n - 1})] "
        f"ELSE [] END"
    )


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["visit_filter_rlike"] = """
        SELECT doc_id, source, n_chars FROM documents
        WHERE regexp_matches(source, 'src1[0-9]')
          AND NOT regexp_matches(text, 'window')
    """

    o["dedup_anti_join"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
    """

    o["sessionize_events"] = """
        WITH w AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                        OR ts > lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                             + INTERVAL 1800 SECOND
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
        )
        SELECT event_id, user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_idx
        FROM w
    """

    o["first_wins_window"] = """
        SELECT user_id, event_id, ts, event_type FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn = 1
    """

    o["host_budget_topk"] = """
        SELECT event_type, rk, event_id, round(value, 6) AS value FROM (
          SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id) AS rk
          FROM events) WHERE rk <= 3
    """

    o["fetch_left_join"] = """
        SELECT o_orderstatus, count(*) AS n_orders,
               CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_missing
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        GROUP BY o_orderstatus
    """

    o["frontier_explode_union"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKENS}) AS token FROM documents
        ), both_passes AS (
          SELECT * FROM toks WHERE regexp_matches(token, '^[a-m]')
          UNION ALL
          SELECT * FROM toks WHERE regexp_matches(token, '^[n-z]')
        )
        SELECT token, count(*) AS n FROM both_passes
        GROUP BY token HAVING count(*) >= 100
    """

    o["superstep_metrics_agg"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(20,2)))
                    AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)))
                    AS DOUBLE) AS sum_base_price,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    o["depth_gate_filter"] = """
        SELECT o_orderkey, o_custkey, o_orderdate FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderpriority = '1-URGENT'
    """

    o["bfs_frontier_levels"] = """
        WITH RECURSIVE n AS (SELECT count(*) AS n FROM documents),
        walk(node, level) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION
          SELECT e.dst, walk.level + 1
          FROM walk
          JOIN (
            SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT n FROM n) AS dst
            FROM documents
            UNION ALL
            SELECT doc_id, (doc_id * 3 + 2) % (SELECT n FROM n) FROM documents
          ) e ON e.src = walk.node
          WHERE walk.level < 4
        ),
        first_seen AS (
          SELECT node, min(level) AS level FROM walk GROUP BY node
        )
        SELECT level, count(*) AS n_nodes, min(node) AS min_node,
               max(node) AS max_node
        FROM first_seen GROUP BY level
    """

    # PageRank, 3 iterations of the scaled-integer recurrence
    # R' = 15e10 + sum((85*R) // (100*outdeg)) — chained CTEs, one per
    # iteration; integer division (//) matches Spark's `div` exactly on the
    # all-positive ranks.
    _PR_ITER = """
        SELECT d.doc_id AS node,
               CAST(150000000000 +
                    COALESCE(SUM((85 * r.rank) // (100 * g.outdeg)), 0)
                    AS BIGINT) AS rank
        FROM documents d
        LEFT JOIN e ON e.dst = d.doc_id
        LEFT JOIN {prev} r ON r.node = e.src
        LEFT JOIN deg g ON g.src = e.src
        GROUP BY d.doc_id
    """
    o["pagerank_fixed_point"] = f"""
        WITH n AS (SELECT count(*) AS n FROM documents),
        e AS (
          SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT n FROM n) AS dst
          FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 3 + 2) % (SELECT n FROM n) FROM documents
        ),
        deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        r0 AS (SELECT doc_id AS node, CAST(1000000000000 AS BIGINT) AS rank
               FROM documents),
        r1 AS ({_PR_ITER.format(prev="r0")}),
        r2 AS ({_PR_ITER.format(prev="r1")}),
        r3 AS ({_PR_ITER.format(prev="r2")})
        SELECT node, "rank" FROM r3
    """

    o["to_path_scalar"] = """
        SELECT doc_id,
               source || '/' ||
               CASE WHEN n_chars > 300 THEN md5(text) || '.html'
                    ELSE CAST(doc_id AS VARCHAR) || '/index.html' END AS path
        FROM documents
    """

    o["exact_dedup"] = """
        SELECT md5(text) AS content_hash, min(doc_id) AS rep_doc_id,
               count(*) AS dup_count
        FROM documents GROUP BY md5(text)
    """

    o["ngram_jaccard_pairs"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), sh_all AS (
          SELECT doc_id, unnest(list_distinct({_shingles(3)})) AS shingle
          FROM base
        ), sh AS (
          SELECT * FROM sh_all WHERE shingle IN (
            SELECT shingle FROM sh_all GROUP BY shingle
            HAVING count(*) <= 20)
        ), sizes AS (
          SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
    """

    # connected components over the ngram pair graph: recursive transitive
    # closure, component id = min reachable doc id (matches the Spark
    # min-label propagation fixpoint)
    # uncapped twin: the pair SQL without a df cap
    o["ngram_jaccard_prefix"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), sh AS (
          SELECT doc_id, unnest(list_distinct({_shingles(3)})) AS shingle
          FROM base
        ), sizes AS (
          SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
    """

    _pairs_ctes = o["ngram_jaccard_pairs"].strip()
    assert _pairs_ctes.startswith("WITH ")
    _cluster_sql = (
        "WITH RECURSIVE " + _pairs_ctes[len("WITH "):].replace(
            "SELECT doc_a, doc_b,", ", pairs AS (SELECT doc_a, doc_b,", 1)
        .replace("WHERE inter / (sa.sz + sb.sz - inter) >= 0.2",
                 "WHERE inter / (sa.sz + sb.sz - inter) >= 0.2)", 1)
        + """,
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        clusters AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src
        )
        """)
    o["near_dup_clusters"] = _cluster_sql + "SELECT doc_id, cluster_id FROM clusters"
    o["dedup_keep_canonical"] = _cluster_sql + """
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (
          SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
    """

    # minhash signature: k=8 md5-salted hash mins — same expressions as Spark
    min_exprs = ", ".join(
        f"min(CAST(('0x' || substr(md5('{i}:' || shingle), 1, 8)) AS BIGINT)) AS h{i}"
        for i in range(8))
    o["minhash_signatures"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), sh AS (
          SELECT doc_id, unnest(list_distinct({_shingles(3)})) AS shingle
          FROM base
        )
        SELECT doc_id, {min_exprs} FROM sh GROUP BY doc_id
    """

    o["cosine_topk"] = """
        WITH q AS (
          SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
        ), e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS ev
          FROM embeddings WHERE vec_id <> 0
        ), scored AS (
          SELECT vec_id, label,
                 round(
                   list_sum([ev[i] * qv[i]
                             for i in generate_series(1, len(ev))])
                   / (sqrt(list_sum([ev[i] * ev[i]
                             for i in generate_series(1, len(ev))]))
                      * sqrt(list_sum([qv[i] * qv[i]
                             for i in generate_series(1, len(qv))]))),
                   6) AS cosine
          FROM e CROSS JOIN q
        )
        SELECT vec_id, label, cosine
        FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """

    _cos = ("list_sum([{a}[i] * {b}[i] for i in generate_series(1, len({a}))])"
            " / (sqrt(list_sum([{a}[i] * {a}[i]"
            " for i in generate_series(1, len({a}))]))"
            " * sqrt(list_sum([{b}[i] * {b}[i]"
            " for i in generate_series(1, len({b}))])))")

    o["embedding_near_dup"] = f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round({_cos.format(a='a.v', b='b.v')}, 6) AS cosine
          FROM e a JOIN e b ON a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.4
    """

    o["ivf_topk"] = f"""
        WITH e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ), c AS (
          SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
        ), sc AS (
          SELECT e.vec_id, e.label, e.v, c.cid,
                 round({_cos.format(a='e.v', b='c.cv')}, 12) AS ccos
          FROM e CROSS JOIN c
        ), rk AS (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY ccos DESC, cid) AS rk
          FROM sc
        ), assigned AS (
          SELECT vec_id, label, v, cid FROM rk WHERE rk = 1
        ), probe AS (
          SELECT cid, v AS q FROM rk WHERE vec_id = 0 AND rk <= 3
        )
        SELECT a.vec_id, a.label,
               round({_cos.format(a='a.v', b='p.q')}, 6) AS cosine
        FROM assigned a JOIN probe p USING (cid)
        WHERE a.vec_id <> 0
        ORDER BY cosine DESC, a.vec_id LIMIT 10
    """

    o["lang_id_heuristic"] = f"""
        WITH base AS (
          SELECT doc_id, lang, {_TOKENS} AS toks FROM documents
        ), feat AS (
          SELECT doc_id, lang, len(toks) AS n_tokens,
                 round(len(list_filter(toks, t -> list_contains({_STOPS}, t)))
                       / greatest(len(toks), 1), 6) AS en_stop_ratio
          FROM base
        )
        SELECT doc_id, lang, n_tokens, en_stop_ratio,
               CASE WHEN en_stop_ratio >= 0.04 THEN 'en' ELSE 'other' END
               AS lang_guess
        FROM feat
    """

    o["quality_score"] = f"""
        WITH base AS (
          SELECT doc_id, text, {_TOKENS} AS toks FROM documents
        ), feat AS (
          SELECT doc_id,
                 len(toks) AS n_tokens,
                 length(text) AS n_chars_raw,
                 length(text) - length(regexp_replace(text,
                     '[^a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
                 len(list_filter(toks, t -> list_contains({_STOPS}, t)))
                 AS n_stop,
                 list_sum(list_transform(toks, t -> length(t)::DOUBLE))
                 AS sum_wl
          FROM base
        )
        SELECT doc_id, n_tokens, n_chars_raw,
               round(coalesce(sum_wl, 0) / greatest(n_tokens, 1), 6)
               AS mean_word_len,
               round(n_punct / greatest(n_chars_raw, 1), 6) AS punct_ratio,
               round(n_stop / greatest(n_tokens, 1), 6) AS stopword_ratio,
               round(
                 (least(n_tokens, 100)::BIGINT * 5
                    * greatest(n_tokens, 1)::BIGINT
                    * greatest(n_chars_raw, 1)::BIGINT
                  + n_stop::BIGINT * 2500 * greatest(n_chars_raw, 1)::BIGINT
                  + (greatest(n_chars_raw, 1)::BIGINT - n_punct::BIGINT) * 200
                    * greatest(n_tokens, 1)::BIGINT)
                 / (greatest(n_tokens, 1)::BIGINT
                    * greatest(n_chars_raw, 1)::BIGINT * 1000), 6) AS quality
        FROM feat
    """

    o["token_counts"] = r"""
        SELECT doc_id,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '')) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
               AS bpe_ish_tokens
        FROM documents
    """

    o["doc_fingerprint"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        )
        SELECT doc_id,
               list_min(list_transform({_shingles(3)}, s -> md5(s)))
               AS min_shingle_md5,
               len(list_distinct({_shingles(3)})) AS n_distinct_shingles
        FROM base
    """

    o["repetition_scores"] = f"""
        WITH base AS (
          SELECT doc_id, text, {_TOKENS} AS toks FROM documents
        ), w AS (
          SELECT doc_id,
                 list_filter(list_transform(string_split(text, chr(10)),
                                            x -> trim(x)),
                             x -> x <> '') AS lines,
                 {_shingles(2)} AS g2,
                 {_shingles(3)} AS g3
          FROM base
        )
        SELECT doc_id,
               len(lines) AS n_lines,
               round((len(lines) - len(list_distinct(lines)))::DOUBLE
                     / greatest(len(lines), 1), 6) AS dup_line_frac,
               round(COALESCE(list_max(list_transform(list_distinct(g2),
                       x -> len(list_filter(g2, y -> y = x)))), 0)::DOUBLE
                     / greatest(len(g2), 1), 6) AS top_2gram_frac,
               round(COALESCE(list_max(list_transform(list_distinct(g3),
                       x -> len(list_filter(g3, y -> y = x)))), 0)::DOUBLE
                     / greatest(len(g3), 1), 6) AS top_3gram_frac
        FROM w
    """

    # same md5 hash-predicate as webtext.stratified_sample (seed "strat")
    o["stratified_sample"] = """
        SELECT doc_id, source FROM documents
        WHERE CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)),
                                   1, 8)) AS BIGINT) % 1000000
              < CASE source WHEN 'src0' THEN 800000
                            WHEN 'src1' THEN 500000
                            ELSE 250000 END
    """

    o["benchmark_overlap"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), sh AS (
          SELECT doc_id, unnest(list_distinct({_shingles(3)})) AS shingle
          FROM base
        ), bsh AS (
          SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0
        ), agg AS (
          SELECT s.doc_id, count(*) AS n_shingles,
                 SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_overlap
          FROM sh s LEFT JOIN bsh b ON s.shingle = b.shingle
          GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(COALESCE(a.n_overlap, 0) AS BIGINT) AS n_overlap,
               round(COALESCE(a.n_overlap, 0)::DOUBLE
                     / greatest(COALESCE(a.n_shingles, 0), 1), 6)
                 AS contamination_frac
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """

    o["repeated_spans"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), win AS (
          SELECT doc_id, unnest(list_distinct({_shingles(5)})) AS span
          FROM base
        ), sd AS (
          SELECT span, count(*) AS span_df FROM win GROUP BY span
        ), per AS (
          SELECT w.doc_id, count(*) AS n_windows,
                 SUM(CASE WHEN s.span_df >= 2 THEN 1 ELSE 0 END)
                   AS n_dup_windows
          FROM win w JOIN sd s ON w.span = s.span
          GROUP BY w.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
               CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
               round(COALESCE(p.n_dup_windows, 0)::DOUBLE
                     / greatest(COALESCE(p.n_windows, 0), 1), 6)
                 AS dup_span_frac
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    """

    o["tfidf_topk_terms"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), tok AS (
          SELECT doc_id, unnest(toks) AS term FROM base
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        ), dfc AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
                 tf.tf * (SELECT count(*) FROM documents)::DOUBLE / dfc.df
                   AS score
          FROM tf JOIN dfc USING (term)
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term ASC) AS rk
          FROM scored
        )
        SELECT doc_id, term, tf, df, round(score, 6) AS tfidf, rk
        FROM ranked WHERE rk <= 3
    """

    # pii_redact: same pattern constants as operators/webtext.py; DuckDB
    # regexp_replace needs the 'g' flag (Spark's is global by default), and
    # each count runs on the text the PREVIOUS pass already cleaned.
    from suckit_spark.operators.webtext import (
        PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE)
    o["pii_redact"] = f"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com via 10.0.'
                      || CAST(doc_id % 256 AS VARCHAR)
                      || '.7 call +1 555 0100 9' AS t
          FROM documents
        ), s1 AS (
          SELECT doc_id,
                 len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_emails,
                 regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
          FROM aug
        ), s2 AS (
          SELECT doc_id, n_emails,
                 len(regexp_extract_all(t1, '{PII_IPV4_RE}')) AS n_ips,
                 regexp_replace(t1, '{PII_IPV4_RE}', '<IP>', 'g') AS t2
          FROM s1
        )
        SELECT doc_id,
               regexp_replace(t2, '{PII_PHONE_RE}', '<PHONE>', 'g')
                 AS clean_text,
               CAST(n_emails AS BIGINT) AS n_emails,
               CAST(n_ips AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(t2, '{PII_PHONE_RE}'))
                    AS BIGINT) AS n_phones
        FROM s2
    """

    # chunk_dedup: 20-token chunks, 1-based inclusive slices match Spark's
    # slice(toks, i*20+1, 20); a doc whose every chunk is boilerplate
    # survives as ''.
    o["chunk_dedup"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), b2 AS (
          SELECT doc_id, toks,
                 CAST(ceil(len(toks) / 20.0) AS INT) AS n_chunks
          FROM base
        ), c AS (
          SELECT doc_id, n_chunks,
                 unnest(list_transform(range(0, n_chunks),
                        i -> struct_pack(pos := i,
                             chunk := array_to_string(
                                 toks[i*20+1:(i+1)*20], ' ')))) AS u
          FROM b2
        ), ch AS (
          SELECT doc_id, struct_extract(u, 'pos') AS pos,
                 struct_extract(u, 'chunk') AS chunk,
                 md5(struct_extract(u, 'chunk')) AS h
          FROM c
        ), freq AS (
          SELECT h, count(DISTINCT doc_id) AS chunk_df FROM ch GROUP BY h
        ), kept AS (
          SELECT ch.doc_id, ch.pos, ch.chunk FROM ch JOIN freq USING (h)
          WHERE chunk_df <= 1
        ), agg AS (
          SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT b.doc_id, COALESCE(a.clean_text, '') AS clean_text,
               CAST(b.n_chunks - COALESCE(a.n_kept, 0) AS BIGINT)
                 AS n_dropped_chunks
        FROM b2 b LEFT JOIN agg a USING (doc_id)
    """

    # chunk_dedup_paragraphs: newline-paragraph mode over the augmented
    # fixture (text || boilerplate-variant || unique tail — every augmented
    # row contains \n, so the token-chunk fallback branch never fires here
    # and the twin implements only the paragraph branch). Key = md5 of the
    # CCNet-normalized paragraph (lower, non-alnum runs -> single space,
    # trim), or of the trimmed paragraph when that normalizes to '';
    # reassembly keeps ORIGINAL paragraph bytes newline-joined.
    o["chunk_dedup_paragraphs"] = r"""
        WITH aug AS (
          SELECT doc_id,
                 text || chr(10) ||
                 CASE WHEN doc_id % 2 = 0 THEN 'Shared Boilerplate, Footer!'
                      ELSE 'shared BOILERPLATE footer' END || chr(10) ||
                 'unique tail ' || CAST(doc_id AS VARCHAR) AS t
          FROM documents
        ), b2 AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(t, '\n+'),
                             p -> trim(p) <> '') AS units
          FROM aug
        ), u0 AS (
          SELECT doc_id, len(units) AS n_units,
                 unnest(list_transform(range(0, len(units)),
                        i -> struct_pack(pos := i, unit := units[i+1]))) AS s
          FROM b2
        ), u AS (
          SELECT doc_id, struct_extract(s, 'pos') AS pos,
                 struct_extract(s, 'unit') AS unit,
                 md5(coalesce(nullif(trim(regexp_replace(
                     lower(struct_extract(s, 'unit')),
                     '[^a-z0-9]+', ' ', 'g')), ''),
                     trim(struct_extract(s, 'unit')))) AS h
          FROM u0
        ), freq AS (
          SELECT h, count(DISTINCT doc_id) AS unit_df FROM u GROUP BY h
        ), kept AS (
          SELECT u.doc_id, u.pos, u.unit FROM u JOIN freq USING (h)
          WHERE unit_df <= 1
        ), agg AS (
          SELECT doc_id, string_agg(unit, chr(10) ORDER BY pos) AS clean_text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT b.doc_id, COALESCE(a.clean_text, '') AS clean_text,
               CAST(len(b.units) - COALESCE(a.n_kept, 0) AS BIGINT)
                 AS n_dropped_chunks
        FROM b2 b LEFT JOIN agg a USING (doc_id)
    """

    # lm_perplexity: add-0.5 unigram model over the corpus' own tokens.
    # Determinism contract matches the Spark side exactly: per-token log2
    # rounded to 12 digits (absorbs libm ulp), per-doc sum as a fold over
    # the token-SORTED (n, logp) list (list_reduce starts from the first
    # element, Spark's aggregate from 0.0 — IEEE-identical since 0.0+x = x).
    o["lm_perplexity"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), tr AS (
          SELECT unnest(toks) AS tok FROM base
        ), model AS (
          SELECT tok, count(*) AS c FROM tr GROUP BY tok
        ), nv AS (
          SELECT CAST(SUM(c) AS DOUBLE) AS n_train,
                 CAST(COUNT(*) AS DOUBLE) AS v_train
          FROM model
        ), dt AS (
          SELECT doc_id, tok, count(*) AS n
          FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
          GROUP BY doc_id, tok
        ), sc AS (
          SELECT d.doc_id, d.tok, d.n,
                 round(log2((COALESCE(m.c, 0) + 0.5)
                            / (nv.n_train + 0.5 * nv.v_train)), 12) AS logp
          FROM dt d LEFT JOIN model m USING (tok) CROSS JOIN nv
        ), folded AS (
          SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_ngrams,
                 list(struct_pack(tok := tok, n := n, logp := logp)
                      ORDER BY tok) AS xs
          FROM sc GROUP BY doc_id
        ), fin AS (
          SELECT doc_id, n_ngrams,
                 list_reduce(list_transform(xs, s -> s.n * s.logp),
                             (a, b) -> a + b) AS ll
          FROM folded
        )
        SELECT d.doc_id,
               CAST(COALESCE(f.n_ngrams, 0) AS BIGINT) AS n_ngrams,
               round(COALESCE(-f.ll / greatest(f.n_ngrams, 1), 0.0), 6)
                 AS cross_entropy_bits,
               round(COALESCE(pow(2.0, -f.ll / greatest(f.n_ngrams, 1)),
                              1.0), 6) AS perplexity
        FROM documents d LEFT JOIN fin f USING (doc_id)
    """

    # lm_perplexity_bigram: P(w2|w1) = (c(w1 w2)+0.5)/(c(w1)+0.5*V), same
    # sorted-fold determinism contract as the unigram twin.
    o["lm_perplexity_bigram"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), trb AS (
          SELECT unnest({_shingles(2)}) AS bg FROM base
        ), bgm AS (
          SELECT bg, count(*) AS c_bg FROM trb GROUP BY bg
        ), pfx AS (
          SELECT tok AS w1, count(*) AS c_w1
          FROM (SELECT unnest(toks) AS tok FROM base) GROUP BY tok
        ), v AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS v_train FROM pfx
        ), db AS (
          SELECT doc_id, bg, count(*) AS n
          FROM (SELECT doc_id, unnest({_shingles(2)}) AS bg FROM base)
          GROUP BY doc_id, bg
        ), sc AS (
          SELECT d.doc_id, d.bg, d.n,
                 round(log2((COALESCE(b.c_bg, 0) + 0.5)
                            / (COALESCE(p.c_w1, 0) + 0.5 * v.v_train)),
                       12) AS logp
          FROM db d LEFT JOIN bgm b USING (bg)
          LEFT JOIN pfx p ON p.w1 = split_part(d.bg, ' ', 1)
          CROSS JOIN v
        ), folded AS (
          SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_ngrams,
                 list(struct_pack(bg := bg, n := n, logp := logp)
                      ORDER BY bg) AS xs
          FROM sc GROUP BY doc_id
        ), fin AS (
          SELECT doc_id, n_ngrams,
                 list_reduce(list_transform(xs, s -> s.n * s.logp),
                             (a, b) -> a + b) AS ll
          FROM folded
        )
        SELECT d.doc_id,
               CAST(COALESCE(f.n_ngrams, 0) AS BIGINT) AS n_ngrams,
               round(COALESCE(-f.ll / greatest(f.n_ngrams, 1), 0.0), 6)
                 AS cross_entropy_bits,
               round(COALESCE(pow(2.0, -f.ll / greatest(f.n_ngrams, 1)),
                              1.0), 6) AS perplexity
        FROM documents d LEFT JOIN fin f USING (doc_id)
    """

    # benchmark_overlap at the GPT-3 n=13 setting — same twin as n=3 with
    # 13-token shingles.
    o["benchmark_overlap_13"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), sh AS (
          SELECT doc_id, unnest(list_distinct({_shingles(13)})) AS shingle
          FROM base
        ), bsh AS (
          SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0
        ), agg AS (
          SELECT s.doc_id, count(*) AS n_shingles,
                 SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_overlap
          FROM sh s LEFT JOIN bsh b ON s.shingle = b.shingle
          GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(COALESCE(a.n_overlap, 0) AS BIGINT) AS n_overlap,
               round(COALESCE(a.n_overlap, 0)::DOUBLE
                     / greatest(COALESCE(a.n_shingles, 0), 1), 6)
                 AS contamination_frac
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """

    # ---- previously rows-only queries: DuckDB twins via md5 banding,
    # bit_count/shift arithmetic, and literal hyperplane lists. The LSH
    # hyperplanes are deterministic md5-derived constants (configuration, not
    # data), embedded as literal DOUBLE[] lists.

    # minhash_lsh_pairs: 16 hashes, 4 bands of 4 rows; band hash =
    # md5(h0,h1,h2,h3 comma-joined) — same expressions as the Spark side.
    min16 = ", ".join(
        f"min(CAST(('0x' || substr(md5('{i}:' || shingle), 1, 8)) AS BIGINT))"
        f" AS h{i}"
        for i in range(16))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(concat_ws(',', " +
        ", ".join(f"CAST(h{b * 4 + r} AS VARCHAR)" for r in range(4)) +
        ")) AS bh FROM sig"
        for b in range(4))
    o["minhash_lsh_pairs"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), sh AS (
          SELECT doc_id, unnest(list_distinct({_shingles(3)})) AS shingle
          FROM base
        ), sig AS (
          SELECT doc_id, {min16} FROM sh GROUP BY doc_id
        ), banded AS (
          {band_selects}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """

    # capped variant: (band, hash) buckets above max_bucket=10 are dropped
    # BEFORE pair generation (both engines apply the identical rule)
    o["minhash_lsh_pairs_capped"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), sh AS (
          SELECT doc_id, unnest(list_distinct({_shingles(3)})) AS shingle
          FROM base
        ), sig AS (
          SELECT doc_id, {min16} FROM sh GROUP BY doc_id
        ), banded AS (
          {band_selects}
        ), kept AS (
          SELECT * FROM banded WHERE (band, bh) IN (
            SELECT (band, bh) FROM banded GROUP BY band, bh
            HAVING count(*) <= 10)
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """

    # simhash: per-token 60-bit md5 hash votes +/-1 per bit position; the
    # fingerprint reassembles the positive-vote bits.
    _SIMHASH = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks FROM documents
        ), th AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('sim:' || t.token), 1, 15))
                      AS BIGINT) AS th
          FROM (SELECT doc_id, unnest(toks) AS token FROM base) t
        ), votes AS (
          SELECT doc_id, g.bit,
                 sum(CASE WHEN (th >> CAST(g.bit AS INTEGER)) & 1 = 1
                          THEN 1 ELSE -1 END) AS v
          FROM th, generate_series(0, 59) AS g(bit)
          GROUP BY doc_id, g.bit
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0
                        THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
                        ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    """
    o["simhash_fingerprints"] = _SIMHASH

    # simhash_near_pairs: brute-force hamming join over the fingerprints —
    # the oracle needs no bucketing, it just has to agree on the answer.
    o["simhash_near_pairs"] = f"""
        WITH fp AS ({_SIMHASH})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
               AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    """

    # Hyperplane-LSH twins: plane entries are +/-1 md5-derived constants.
    from suckit_spark.operators.webtext import lsh_hyperplanes

    def _plane_lit(plane):
        return "[" + ", ".join(f"{v:.1f}" for v in plane) + "]::DOUBLE[]"

    def _dot_lit(vec, plane):
        lit = _plane_lit(plane)
        return (f"list_sum([{vec}[i] * ({lit})[i] "
                f"for i in generate_series(1, len({vec}))])")

    def _bucket_expr(vec, planes, offset=0):
        terms = [
            f"(CASE WHEN {_dot_lit(vec, plane)} > 0 "
            f"THEN CAST({1 << (offset + p)} AS BIGINT) ELSE 0 END)"
            for p, plane in enumerate(planes)
        ]
        return "(" + " + ".join(terms) + ")"

    planes12 = lsh_hyperplanes(64, 12)
    o["ann_lsh_buckets"] = f"""
        WITH e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        )
        SELECT vec_id, label, {_bucket_expr('v', planes12)} AS bucket
        FROM e
    """

    planes8 = lsh_hyperplanes(64, 8)
    o["ann_bucketed_topk"] = f"""
        WITH e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ), eb AS (
          SELECT vec_id, label, v, {_bucket_expr('v', planes8)} AS bucket
          FROM e
        ), q AS (
          SELECT v AS qv, bucket AS qb FROM eb WHERE vec_id = 0
        )
        SELECT eb.vec_id, eb.label,
               round({_cos.format(a='eb.v', b='q.qv')}, 6) AS cosine
        FROM eb JOIN q ON eb.bucket = q.qb
        WHERE eb.vec_id <> 0
        ORDER BY cosine DESC, eb.vec_id LIMIT 10
    """

    # embedding_near_dup_lsh: 12 tables x 4 planes; a pair is a candidate iff
    # the two vectors share at least one table signature; exact cosine filter.
    planes48 = lsh_hyperplanes(64, 4 * 12)
    sig_cols = ", ".join(
        f"{_bucket_expr('v', planes48[t * 4:(t + 1) * 4])} AS s{t}"
        for t in range(12))
    collide = " OR ".join(f"a.s{t} = b.s{t}" for t in range(12))
    o["embedding_near_dup_lsh"] = f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), sigs AS (
          SELECT vec_id, v, {sig_cols} FROM e
        ), pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round({_cos.format(a='a.v', b='b.v')}, 6) AS cosine
          FROM sigs a JOIN sigs b
            ON a.vec_id < b.vec_id AND ({collide})
        )
        SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.4
    """

    # robots gate, rules-table join realization: host rules keyed by
    # m = source_number % 3 (m=0 disallow /doc/1*; m=1 disallow /doc/2*,
    # /doc/3*; m=2 no rules row -> allow-by-default).
    o["robots_join_gate"] = """
        WITH cand AS (
          SELECT doc_id,
                 'http://' || source || '.example/doc/' || CAST(doc_id AS INT)
                   || '.html' AS url,
                 source,
                 '/doc/' || CAST(doc_id AS INT) || '.html' AS path
          FROM documents
        ), srcm AS (
          SELECT DISTINCT source,
                 CAST(SUBSTR(source, 4) AS INT) % 3 AS m
          FROM documents
        )
        SELECT c.doc_id, c.url
        FROM cand c JOIN srcm s USING (source)
        WHERE s.m = 2
           OR (s.m = 0 AND NOT starts_with(c.path, '/doc/1'))
           OR (s.m = 1 AND NOT (starts_with(c.path, '/doc/2')
                                 OR starts_with(c.path, '/doc/3')))
    """
    return o
