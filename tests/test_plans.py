"""Physical-plan shape invariants — the scale discipline, pinned.

These assert what `.explain` audits would check by hand: pair generators
never degenerate to cross products, the within-superstep dedup is a
``min_by`` aggregation with map-side partial combine (not a window), and
candidate generation over the superstep store prunes to the columns it
reads. Failures here mean a plan regression that small-data correctness
tests cannot see."""

import pytest
from pyspark.sql import functions as F

from suckit_spark.operators import dedup as dedup_ops
from suckit_spark.operators import webtext
from suckit_spark.plans.crawl import _plan_string

CROSS_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")


def docs_df(spark, n=30):
    return spark.range(n).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(F.lit("some shared words plus unique token u"), "id")
        .alias("text"))


def emb_df(spark, n=20, dim=8):
    return spark.range(n).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("float")
                  for i in range(dim)]).alias("embedding"),
        F.concat(F.lit("l"), F.col("id") % 3).alias("label"))


@pytest.mark.parametrize("build", [
    pytest.param(lambda s: webtext.ngram_jaccard_pairs(
        docs_df(s), max_df=20), id="ngram_capped"),
    pytest.param(lambda s: webtext.ngram_jaccard_pairs(
        docs_df(s), max_df=None), id="ngram_uncapped_selfjoin"),
    pytest.param(lambda s: webtext.minhash_lsh_pairs(docs_df(s)),
                 id="minhash_lsh"),
    pytest.param(lambda s: webtext.simhash_near_pairs(docs_df(s)),
                 id="simhash"),
    pytest.param(lambda s: webtext.embedding_near_dup_lsh(
        emb_df(s), threshold=0.4), id="embedding_lsh"),
    pytest.param(lambda s: webtext.ann_bucketed_topk(emb_df(s)),
                 id="ann_bucketed"),
])
def test_pair_generators_never_cross_join(spark, build):
    """Every near-dup / ANN pair generator must stay an equi-join on its
    bucket key (posting list, LSH band, simhash chunk, hyperplane bucket) —
    a cross-product node means the bucketing silently fell out of the plan."""
    plan = _plan_string(build(spark), "simple")
    for node in CROSS_NODES:
        assert node not in plan, f"{node} in plan:\n{plan}"


def test_first_wins_is_partial_aggregation(spark):
    """P8 within-superstep dedup: min_by aggregation with a PARTIAL stage
    before the exchange (map-side combine), and no window."""
    cand = spark.createDataFrame(
        [("u1", [0], True), ("u1", [1], False), ("u2", [2], True)],
        "url string, order_key array<long>, external boolean")
    plan = _plan_string(dedup_ops.first_wins(cand, "url", "order_key"),
                        "formatted")
    assert "min_by" in plan
    assert "Window" not in plan
    assert "partial_min_by" in plan or "Partial" in plan, plan


def test_exact_backstop_is_the_only_quadratic(spark):
    """embedding_near_dup (the documented exact backstop) is ALLOWED to be
    quadratic; assert the LSH twin of the same threshold is not."""
    exact_plan = _plan_string(
        webtext.embedding_near_dup(emb_df(s := spark), threshold=0.4),
        "simple")
    lsh_plan = _plan_string(
        webtext.embedding_near_dup_lsh(emb_df(s), threshold=0.4), "simple")
    assert not any(n in lsh_plan for n in CROSS_NODES)
    # and the backstop really does generate all pairs some way (join on less-
    # than only) — documents the asymmetry this test exists to protect
    assert ("SortMergeJoin" in exact_plan or "CartesianProduct" in exact_plan
            or "BroadcastNestedLoopJoin" in exact_plan
            or "Join" in exact_plan)


def test_candidate_explode_prunes_columns(spark, tmp_path):
    """The crawl's candidate stage reads (url, depth, ext_depth, order_key,
    links) from the superstep store — never the content bytes."""
    from suckit_spark.plans.crawl import _result_store_schema
    empty = spark.createDataFrame([], _result_store_schema())
    path = str(tmp_path / "store")
    empty.write.parquet(path)
    store = spark.read.schema(_result_store_schema()).parquet(path)
    cand = (
        store.select(
            F.col("url").alias("parent_url"), "depth", "ext_depth",
            F.col("order_key").alias("parent_key"),
            F.explode("links").alias("link")))
    plan = _plan_string(cand, "formatted")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "content" not in read_schema[0]
    assert "links" in read_schema[0]


@pytest.mark.parametrize("build", [
    pytest.param(lambda s: webtext.repeated_spans(docs_df(s), w=3),
                 id="repeated_spans"),
    pytest.param(lambda s: webtext.benchmark_overlap(
        docs_df(s), docs_df(s, 5), n=3), id="benchmark_overlap"),
    pytest.param(lambda s: webtext.tfidf_topk_terms(docs_df(s), k=3),
                 id="tfidf_topk"),
    pytest.param(lambda s: webtext.lm_perplexity(docs_df(s)),
                 id="lm_perplexity"),
    pytest.param(lambda s: webtext.lm_perplexity(docs_df(s), order=2),
                 id="lm_perplexity_bigram"),
    pytest.param(lambda s: __import__(
        "suckit_spark.operators.graph", fromlist=["graph"]
    ).pagerank_fixed_point(
        s.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long"),
        iters=2), id="pagerank"),
])
def test_curation_operators_never_cross_join(spark, build):
    """The round-3 curation/analytics operators are all counting equi-join
    dataflows: a cross-product node means the span/term/edge key silently
    fell out of a join."""
    plan = _plan_string(build(spark), "simple")
    for node in CROSS_NODES:
        assert node not in plan, f"{node} in plan:\n{plan}"


def test_ivf_assignment_is_pure_projection(spark):
    """IVF cell assignment must be a per-row argmax, one Arrow-batched
    projection — no Join, no Window, no Exchange. The r3 shape
    (broadcast-join N×k rows + row_number window) materialized and shuffled
    n_centroids× the corpus; at n_centroids ≈ sqrt(N) that dominates the
    whole query. A Join/Window/Exchange node reappearing here means the
    assignment regressed to that shape."""
    emb = emb_df(spark, n=20, dim=8)
    cent_rows = [(r["vec_id"], [float(v) for v in r["embedding"]])
                 for r in emb.limit(4).collect()]
    plan = _plan_string(webtext.ivf_assign_cells(emb, cent_rows), "simple")
    assert "ArrowEvalPython" in plan, plan
    for node in ("Join", "Window", "Exchange"):
        assert node not in plan, f"{node} in plan:\n{plan}"


def test_spread_gates_on_input_parallelism(spark):
    """_spread must be a no-op on an already-parallel input: the shingle
    family's downstream groupBy re-shuffles on its own key anyway, so a
    pre-explode corpus exchange is pure overhead at 100 TB. Only a
    narrower-than-defaultParallelism input (the one-file sandbox corpus)
    gets widened."""
    par = spark.sparkContext.defaultParallelism
    wide = docs_df(spark, n=64).repartition(par, "doc_id")
    narrow = docs_df(spark, n=64).coalesce(1)
    # already-parallel input passes through untouched — zero extra Exchange
    assert webtext._spread(wide) is wide
    # under-parallel input is widened to default parallelism
    assert webtext._spread(narrow).rdd.getNumPartitions() == par
    # and the operator-level plan proof: exactly ONE Exchange — the input
    # repartition in the lineage we built. The signature groupBy on doc_id
    # reuses that hash-partitioning (distribution satisfied, no re-shuffle),
    # and the pre-r5 unconditional _spread would have planned a second.
    plan_wide = _plan_string(
        webtext.minhash_signatures(wide, num_hashes=4), "simple")
    assert plan_wide.count("Exchange") == 1, plan_wide


def test_pii_redact_is_narrow(spark):
    """pii_redact is per-row regexp work: no Exchange, no Join — at 100 TB
    it must stay scan-bound. A shuffle node appearing here means someone
    routed it through an aggregation or join it does not need."""
    plan = _plan_string(webtext.pii_redact(docs_df(spark)), "simple")
    for node in ("Exchange", "Join", "Window"):
        assert node not in plan, f"{node} in plan:\n{plan}"


def test_chunk_dedup_counts_never_pairs(spark):
    """chunk_dedup gates on a unit-frequency COUNT joined back equi-on the
    unit hash — never a unit-unit self-join pair blow-up, and never a
    cross product — for token chunks and newline paragraphs alike."""
    paragraphs = docs_df(spark).select(
        "doc_id", F.concat("text", F.lit("\nshared footer")).alias("text"))
    for docs in (docs_df(spark), paragraphs):
        plan = _plan_string(webtext.chunk_dedup(docs, chunk_len=4), "simple")
        for node in CROSS_NODES:
            assert node not in plan, f"{node} in plan:\n{plan}"
        # exactly the three intended shuffles: freq agg, hash join, doc
        # regroup (AQE may coalesce but cannot add); allow <= 4 for the
        # final left join
        assert plan.count("Exchange") <= 5, plan
