"""Training-data pipeline operators over web-text corpora.

Beyond the reference's crawl loop, a 100 TB crawl output feeds a training-data
pipeline; these are the standard set — deduplication (exact, MinHash+LSH,
SimHash, n-gram Jaccard), similarity search over embeddings (brute-force
cosine + LSH-bucketed ANN), and text analysis (language-ID heuristic, quality
scoring, token counting, document fingerprinting) — all expressed with
built-in ``pyspark.sql.functions`` (JVM-side, whole-stage codegen) so nothing
here drops to per-row Python.

Cross-engine determinism: every hash is md5-based (DuckDB and Spark agree),
every float reduction is an explicit left-to-right fold over doubles, so the
DuckDB oracles in ``__spark_entry__.py`` hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# --------------------------------------------------------------------------
# tokenization / shingling (shared building blocks)
# --------------------------------------------------------------------------

def tokens_col(text: str | Column = "text") -> Column:
    """Lowercased alphanumeric tokens; empty strings filtered (deterministic
    across engines: regexp split on non-alphanumeric runs)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != F.lit(""))


def shingles_col(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles: space-joined windows of n consecutive tokens.

    The token expression is bound ONCE per row via a single-element-array
    ``transform`` before the per-index lambda runs. This matters: a lambda
    body that references an unbound outer expression re-evaluates that whole
    subtree per element (Spark HOFs do no cross-iteration subexpression
    elimination), so the naive ``transform(sequence(...), i -> slice(tokens,
    i, n))`` re-splits the document once per shingle index — O(d^2) per
    document, an 87 s single-task straggler at a mere 20k tokens. Bound, the
    slice reads a lambda variable (O(1) access) and the whole shingle build
    is O(d*n): 100k tokens in under a second."""

    def build(t: Column) -> Column:
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(tokens), build)[0]


def _md5_bucket(c: Column, prefix: str, hexlen: int = 8) -> Column:
    """Deterministic 32/64-bit integer hash both engines can reproduce:
    first ``hexlen`` hex chars of md5(prefix || value), base-16 decoded."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(prefix), c)), 1, hexlen), 16, 10).cast("long")


def _spread(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Guarantee the expensive fan-out stages actually parallelize — but ONLY
    when the input is actually under-parallel.

    A small corpus read from one parquet file arrives as ONE input partition,
    which would serialize the shingle explode onto a single core; widening it
    is cheap relative to the work it unlocks. At real corpus scale the input
    already has thousands of splits and none of the callers needs doc_id
    co-location before their explode (the downstream shingle/term groupBy
    re-shuffles on its own key anyway), so an unconditional
    ``repartition(defaultParallelism, key)`` would exchange the ENTIRE
    (doc_id, text) corpus — pure overhead at 100 TB. Gate: widen only when
    the input has fewer partitions than the session's default parallelism;
    otherwise pass the input layout through untouched (zero extra Exchange —
    plan-pinned by tests/test_plans.py)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism, key)


def _distinct_shingles(documents: DataFrame, n: int,
                       alias: str = "shingle") -> DataFrame:
    """``(doc_id, <alias>)``: one row per distinct word n-gram of each
    document, the fan-out every shingle-keyed operator starts from."""
    return _spread(documents).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_col(tokens_col(), n)))
        .alias(alias))


def _array_pairs(docs: Column) -> Column:
    """Every ``struct(doc_a, doc_b)`` with ``doc_a < doc_b`` drawn from one
    member array, built inside the row. Only for arrays whose size a cap
    bounds (``max_df``, ``max_bucket``): the output is size² structs."""
    ds = F.array_sort(docs)
    return F.filter(
        F.flatten(F.transform(
            ds, lambda x: F.transform(ds, lambda y: F.struct(
                x.alias("doc_a"), y.alias("doc_b"))))),
        lambda s: s["doc_a"] < s["doc_b"],
    )


# --------------------------------------------------------------------------
# deduplication
# --------------------------------------------------------------------------

def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash: representative = min doc_id.
    One shuffle (hash-partitioned groupBy); partial aggregation map-side."""
    return (
        documents.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("rep_doc_id"),
             F.count("*").alias("dup_count"))
    )


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = None) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Shuffle-based similarity join: explode distinct shingles, equi-join on the
    shingle (so only documents sharing at least one shingle are compared —
    never the full O(N²) cross product), aggregate intersection sizes, then
    |A∪B| = |A|+|B|-|A∩B|.

    ``max_df`` (document-frequency cap) drops shingles present in more than
    that many documents — stop-shingle removal. Hot shingles carry no dedup
    signal but produce O(df²) fan-out; capping them bounds the worst key's
    output. Jaccard is then computed over the surviving shingle sets (both
    sides of the oracle comparison apply the same rule).

    Physical shape, capped (``max_df`` set): ONE shuffle of the exploded
    shingles (groupBy shingle → posting list), then pairs are generated inside
    the bounded array (df ≤ max_df ⇒ ≤ max_df² structs) — no self-join, no
    second pass over the shingle table, no separate df-count job. The bound is
    what makes the in-array expansion safe.

    Uncapped (``max_df=None``): falls back to the equi-self-join form — the
    pair fan-out of a hot shingle is then spread across shuffle tasks (and
    AQE's skew-join splitting) instead of materializing O(df²) structs inside
    a single array row, which would OOM one executor on the first
    df≈N stop-shingle. It is the one exact uncapped join: prefix filtering
    (AllPairs) emits fewer candidate rows but ran slower end to end at the
    measured scale (``BENCH/PREFIX_JOIN.md``).
    """
    # No .persist() on the shared intermediates: ``sh`` (and ``postings``
    # below) each feed two consumers, but the expensive part — the exchange
    # hash-partitioning the exploded shingles — is planned identically in
    # both branches, so Spark's ReusedExchange serves it from the shuffle
    # files it already wrote; only the cheap post-shuffle aggregation
    # recomputes. Caching them instead leaked block-manager memory for the
    # session lifetime (round-2 finding: repeated calls accumulated cached
    # shingle tables until eviction thrash).
    sh = _distinct_shingles(documents, n)
    if max_df is None:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
        a = sh.select(F.col("shingle"), F.col("doc_id").alias("doc_a"))
        b = sh.select(F.col("shingle"), F.col("doc_id").alias("doc_b"))
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        postings = sh.groupBy("shingle").agg(
            F.collect_list("doc_id").alias("docs"))
        postings = postings.filter(F.size("docs") <= max_df)
        sizes = (
            postings.select(F.explode("docs").alias("doc_id"))
            .groupBy("doc_id").agg(F.count("*").alias("sz"))
        )
        inter = (
            postings.select(F.explode(_array_pairs(F.col("docs"))).alias("p"))
            .groupBy(F.col("p.doc_a").alias("doc_a"),
                     F.col("p.doc_b").alias("doc_b"))
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dup_clusters(pairs: DataFrame, id_a: str = "doc_a",
                      id_b: str = "doc_b", max_iters: int = 50) -> DataFrame:
    """Connected components over a near-duplicate pair graph →
    ``(doc_id, cluster_id)``, where cluster_id is the component's minimum
    doc id. Only documents appearing in at least one pair are emitted
    (singletons are their own trivial cluster and carry no dedup decision).

    This is the step every real dedup pipeline needs between "pairs" and
    "keep/drop": transitive closure (A~B, B~C ⇒ {A,B,C} is one group even
    when A,C were never compared).

    Shape: BSP min-label propagation — each round every node adopts the
    minimum label in its neighborhood (one equi-join + one min-aggregation,
    both map-side combinable), ``localCheckpoint`` per round to keep lineage
    flat, terminating when no label changes. Rounds = graph diameter;
    near-dup graphs are dense clique-ish blobs with tiny diameters, so this
    beats the constant-factor-heavier large-star/small-star alternation
    everywhere except adversarial path graphs.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = edges.distinct().localCheckpoint(eager=True)
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    changed = 0
    for _ in range(max_iters):
        prop = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label"))
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # A component with diameter > max_iters would get inconsistent labels
        # and dedup_keep_canonical would silently keep several documents from
        # one cluster — surface it instead (the ``changed`` count is already
        # computed every round, so this costs nothing extra).
        import warnings
        warnings.warn(
            f"near_dup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing); component labels are "
            "inconsistent — raise max_iters (rounds needed = graph diameter)",
            RuntimeWarning, stacklevel=2)
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def dedup_keep_canonical(documents: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Keep one representative per near-dup cluster (the minimum doc id) and
    every unpaired document: the end-to-end dedup a training-data pipeline
    applies after pair generation. One anti-join against the (small) loser
    set — the corpus itself is never shuffled."""
    clusters = near_dup_clusters(pairs)
    losers = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
              .select(F.col("doc_id").alias(id_col)))
    return documents.join(losers, on=id_col, how="left_anti")


def minhash_signatures(documents: DataFrame, num_hashes: int = 16,
                       n: int = 3) -> DataFrame:
    """MinHash signatures: k independent md5-salted hash functions, one
    shuffle (explode shingles -> groupBy doc with k ``min`` aggregates)."""
    sh = _distinct_shingles(documents, n)
    aggs = [
        F.min(_md5_bucket(F.col("shingle"), f"{i}:")).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(documents: DataFrame, num_hashes: int = 16,
                      bands: int = 4, n: int = 3,
                      max_bucket: int | None = None) -> DataFrame:
    """MinHash + LSH candidate pairs: band the signature, hash each band,
    bucket-join documents sharing a band hash. The join is on (band, hash) —
    each band is one equi-join key, so candidate generation is a hash shuffle,
    not a cross product.

    ``max_bucket`` caps the size of a single (band, hash) bucket — the LSH
    analogue of ``ngram_jaccard_pairs``'s ``max_df`` stop-shingle cap. A
    degenerate bucket of df near-identical documents (boilerplate pages,
    exact-duplicate spam) otherwise emits df² candidate pairs; a bucket that
    big carries no discrimination signal, so dropping it bounds the worst
    key's output at max_bucket² while leaving selective buckets untouched.
    ``None`` (the default) keeps the uncapped reference semantics.

    Physical shape, capped: ONE shuffle of the banded rows (groupBy
    (band, hash) → member list), buckets above the cap dropped BEFORE any
    pair exists, then pairs are generated inside the bounded array
    (≤ max_bucket² structs per bucket) — the same in-array expansion the
    capped ``max_df`` path uses, safe for exactly the same reason.
    """
    sig = minhash_signatures(documents, num_hashes, n)
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws(",", *parts)).alias("bh")))
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    if max_bucket is not None:
        buckets = (
            banded.groupBy("band", "bh")
            .agg(F.collect_list("doc_id").alias("docs"))
            .filter(F.size("docs") <= max_bucket)
        )
        return (
            buckets.select(F.explode(_array_pairs(F.col("docs"))).alias("p"))
            .select(F.col("p.doc_a").alias("doc_a"),
                    F.col("p.doc_b").alias("doc_b"))
            .distinct()
        )
    a, b_ = banded.alias("a"), banded.alias("b")
    return (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(documents: DataFrame, bits: int = 64) -> DataFrame:
    """SimHash fingerprints: per token, a 64-bit md5-derived hash votes ±1 on
    each bit position; the sign of each bit's vote sum forms the fingerprint.

    Expressed as explode(tokens) -> explode(bit positions) -> groupBy(doc,
    bit) -> bit reassembly — all JVM-side integer ops, one wide shuffle.
    """
    tok = _spread(documents).select(
        "doc_id", F.explode(tokens_col()).alias("token"))
    h = tok.withColumn("th", _md5_bucket(F.col("token"), "sim:", 15))  # 60 bits
    use_bits = min(bits, 60)
    votes = (
        h.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(use_bits - 1))).alias("bit"),
            "th",
        )
        .withColumn(
            "vote",
            F.when(F.expr("shiftrightunsigned(th, bit)").bitwiseAND(1) == 1,
                   F.lit(1)).otherwise(F.lit(-1)),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return (
        votes.withColumn(
            "bitval",
            F.when(F.col("v") > 0,
                   F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
            .otherwise(F.lit(0).cast("long")))
        .groupBy("doc_id")
        .agg(F.sum("bitval").alias("simhash"))
    )


def simhash_near_pairs(documents: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance — EXACT, via chunk bucketing.

    The 60 fingerprint bits are split into ``max_hamming + 1`` chunks: two
    fingerprints within hamming distance ``max_hamming`` differ in at most
    ``max_hamming`` bit positions, so by pigeonhole they agree exactly on at
    least one whole chunk. The join key is (chunk_idx, chunk_value) — a hash
    shuffle, never a cross product — and the exact hamming filter afterwards
    keeps precision 1.0, so the operator returns EVERY pair within distance
    (round 1 fixed 4 chunks regardless of the requested distance, silently
    dropping pairs with 4 ≤ hamming ≤ max_hamming spread across all chunks).

    Scale note: chunk width = 60 // (max_hamming+1); small distances (the
    production dedup setting, e.g. 3 ⇒ 15-bit chunks) give selective buckets.
    Large distances degrade toward a cross join (3-bit chunks at d=20) —
    that is inherent to exact hamming joins, not to this shape.
    """
    fp = simhash(documents)
    n_chunks = min(max_hamming + 1, 60)
    # Chunk i covers bits [lo_i, lo_{i+1}); widths differ by at most 1 bit.
    bounds = [i * 60 // n_chunks for i in range(n_chunks + 1)]
    chunk_structs = [
        F.struct(
            F.lit(i).alias("ci"),
            F.shiftrightunsigned(F.col("simhash"), bounds[i])
            .bitwiseAND((1 << (bounds[i + 1] - bounds[i])) - 1).alias("cv"))
        for i in range(n_chunks)
    ]
    chunks = fp.select(
        "doc_id", "simhash",
        F.explode(F.array(*chunk_structs)).alias("c"),
    ).select("doc_id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(b, (F.col("a.ci") == F.col("b.ci")) & (F.col("a.cv") == F.col("b.cv"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# similarity search over embeddings
# --------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    """Deterministic left-to-right double fold (bitwise-stable across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a: Column, b: Column) -> Column:
    """Cosine of two array columns over :func:`_dot` folds."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _cosine_topk_of(cand: DataFrame, query_vec_id: int, k: int) -> DataFrame:
    """The top-k tail every search shares: score ``embedding`` against the
    query vector ``q``, drop the query row itself, order by cosine desc then
    vec_id, keep k (orderBy+limit = distributed TakeOrdered)."""
    return (
        cand.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label",
                F.round(_cosine(F.col("embedding"), F.col("q")), 6)
                .alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def cosine_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k: broadcast the single query row, one pass over
    the corpus, global top-k."""
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q"))
    return _cosine_topk_of(
        embeddings.crossJoin(F.broadcast(q)), query_vec_id, k)


def lsh_hyperplanes(dim: int, num_planes: int = 16) -> list[list[float]]:
    """Deterministic random hyperplanes: ±1 entries derived from md5 bits."""
    import hashlib

    planes = []
    for p in range(num_planes):
        vals = []
        for i in range(dim):
            h = hashlib.md5(f"plane:{p}:{i}".encode()).digest()[0]
            vals.append(1.0 if h & 1 else -1.0)
        planes.append(vals)
    return planes


def _sign_bits(planes: list[list[float]]) -> Column:
    """Hyperplane signature of ``embedding``: bit p is set iff its dot
    product with ``planes[p]`` is positive."""
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        dot = _dot(F.col("embedding"), F.array(*[F.lit(v) for v in plane]))
        sig = sig + F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(0)
    return sig


def ann_lsh_buckets(embeddings: DataFrame, num_planes: int = 12,
                    dim: int = 64) -> DataFrame:
    """Random-hyperplane LSH bucketing: the scale path for ANN. Each vector's
    signature = sign bits of its dot products with ``num_planes`` fixed
    hyperplanes; neighbor search then probes only the matching bucket (plus
    multi-probe neighbors), turning an O(N) scan into an O(N/2^planes)
    bucket lookup co-located by the bucket join key."""
    sig = _sign_bits(lsh_hyperplanes(dim, num_planes))
    return embeddings.select("vec_id", "label", sig.alias("bucket"))


def ann_bucketed_topk(embeddings: DataFrame, query_vec_id: int = 0,
                      k: int = 10, num_planes: int = 8, dim: int = 64) -> DataFrame:
    """ANN top-k restricted to the query's LSH bucket — the approximate,
    shuffle-light variant of cosine_topk."""
    buckets = ann_lsh_buckets(embeddings, num_planes, dim)
    with_b = embeddings.join(buckets.select("vec_id", "bucket"), "vec_id")
    qb = with_b.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q"), F.col("bucket").alias("qb"))
    return _cosine_topk_of(
        with_b.join(F.broadcast(qb), F.col("bucket") == F.col("qb")),
        query_vec_id, k)


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact baseline: every (a, b)
    pair with ``cosine >= threshold``. O(N^2) self-join — the correctness
    backstop the LSH variant is checked against; at corpus scale use
    :func:`embedding_near_dup_lsh`. The join is a broadcast of the smaller
    (deduped) side only when Catalyst sizes it so; the cross shape is explicit
    here because every pair genuinely must be scored."""
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = _cosine(F.col("ea"), F.col("eb"))
    return (
        pairs.select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_lsh(embeddings: DataFrame, threshold: float = 0.9,
                           num_planes: int = 4, num_tables: int = 12,
                           dim: int = 64) -> DataFrame:
    """Embedding-cosine near-dup, scale path: multi-table random-hyperplane
    LSH. Each of ``num_tables`` independent tables hashes a vector to a
    ``num_planes``-bit bucket; candidate pairs are generated only within a
    (table, bucket) group — an equi-join on the bucket key, hash-partitioned,
    never a cross join — then verified with the exact cosine and deduped
    across tables with one aggregation. A pair at angle theta collides in at
    least one table with probability ``1-(1-(1-theta/pi)^planes)^tables``
    (~0.99 at cosine 0.9 with the defaults), while the exact filter keeps
    precision at 1.0. Output schema matches :func:`embedding_near_dup`
    (a subset of it, by construction)."""
    planes = lsh_hyperplanes(dim, num_planes * num_tables)
    tables = [
        F.struct(F.lit(t).alias("t"), _sign_bits(
            planes[t * num_planes:(t + 1) * num_planes]).alias("sig"))
        for t in range(num_tables)]
    keyed = embeddings.select(
        "vec_id", "embedding",
        F.explode(F.array(*tables)).alias("tb"),
    ).select("vec_id", "embedding",
             F.concat(F.col("tb.t").cast("string"), F.lit(":"),
                      F.col("tb.sig").cast("string")).alias("bucket"))
    a = keyed.select(
        F.col("bucket"), F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"))
    b = keyed.select(
        F.col("bucket"), F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"))
    pairs = (
        a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])      # union across tables
    )
    cos = _cosine(F.col("ea"), F.col("eb"))
    return (
        pairs.select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def kmeans_centroids(embeddings: DataFrame, n_centroids: int,
                     seed: int = 42, max_iter: int = 20) -> DataFrame:
    """Train k-means cell centroids for :func:`ivf_topk` with
    ``pyspark.ml.clustering.KMeans`` (fixed seed — deterministic given the
    same input partitioning). Vectors are L2-NORMALIZED before training
    (spherical k-means): ``ivf_topk`` assigns cells by COSINE, and on unit
    vectors Euclidean k-means optimizes exactly that metric — training on raw
    lengths would split cells by magnitude the cosine assignment ignores.
    Returns a tiny ``(cid, cv)`` DataFrame ready to broadcast; the training
    job is the only extra cost and is fully distributed (Spark ML's KMeans is
    itself a DataFrame aggregation loop)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = F.col("embedding")
    unit = F.transform(e, lambda x: x.cast("double") / F.sqrt(_dot(e, e)))
    feats = embeddings.select(array_to_vector(unit).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    spark = embeddings.sparkSession
    rows = [(i, [float(v) for v in c])
            for i, c in enumerate(model.clusterCenters())]
    return spark.createDataFrame(rows, "cid int, cv array<double>")


def _normalized_centroid_matrix(cent_rows: list):
    """(sorted cid vector, row-normalized centroid matrix) as numpy arrays,
    ordered by ascending cid so a first-max argmax breaks score ties toward
    the smallest cid."""
    import numpy as np

    cids = np.array([int(cid) for cid, _ in cent_rows], dtype=np.int64)
    order = np.argsort(cids, kind="stable")
    cids = cids[order]
    mat = np.array([[float(v) for v in cv] for _, cv in cent_rows],
                   dtype=np.float64)[order]
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return cids, mat / norms


def ivf_assign_cells(embeddings: DataFrame, cent_rows: list) -> DataFrame:
    """IVF cell assignment: each vector's nearest centroid by cosine, from
    an Arrow-batched Pandas UDF — one BLAS matmul per batch (``(batch ×
    dim) @ (dim × n_centroids)``) over the numpy centroid matrix the UDF
    closure ships, then a per-row argmax. A pure projection (no Join,
    Window or Exchange; plan-pinned), so n_centroids ~ sqrt(N) costs
    megabytes of closure, not of plan. Scores round to 12 digits before the
    argmax (a last-ulp difference must not flip a cell); ties go to the
    smallest cid."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cids, cn = _normalized_centroid_matrix(cent_rows)

    def assign(batch):
        e = np.stack([np.asarray(v, dtype=np.float64)
                      for v in batch.to_numpy()])
        norms = np.linalg.norm(e, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        scores = np.round((e @ cn.T) / norms, 12)
        # first max along sorted-cid axis == smallest cid among ties
        return pd.Series(cids[np.argmax(scores, axis=1)]).astype("int32")

    # real class objects, not strings: this module's postponed annotations
    # (`from __future__ import annotations`) would otherwise stringify the
    # hints and pandas_udf's eval-type inference cannot resolve them here
    assign.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    assign = pandas_udf(assign, "int")

    return embeddings.select(
        "vec_id", "label", "embedding", assign("embedding").alias("cid"))


def ivf_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10,
             n_centroids: int = 16, n_probe: int = 4, dim: int = 64,
             centroids: str = "prefix") -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into ``n_centroids``
    cells by nearest centroid, then search only the query's ``n_probe``
    closest cells. ``centroids`` picks the cell centers: ``"prefix"`` (the
    vectors with the ``n_centroids`` smallest vec_ids — deterministic, the
    oracle-checked default; a seeded sample at real scale) or ``"kmeans"``
    (:func:`kmeans_centroids` — pays one training job for cells that follow
    the data distribution, higher recall on clustered corpora).

    Assignment is :func:`ivf_assign_cells`, a pure projection. The probe set
    is a point computation on the driver (one query row × n_centroids in
    numpy, same rounding and tie rule), broadcast-joined onto the assigned
    cells. Only the centroid table and the query row are collected.
    """
    import numpy as np

    if centroids == "kmeans":
        cents = kmeans_centroids(embeddings, n_centroids)
    else:
        cents = embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    cent_rows = [(r["cid"], r["cv"]) for r in cents.collect()]
    assigned = ivf_assign_cells(embeddings, cent_rows)
    qrow = (embeddings.filter(F.col("vec_id") == query_vec_id)
            .select("embedding").collect())
    if not qrow:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id int, label string, cosine double")
    q = np.asarray([float(v) for v in qrow[0]["embedding"]], dtype=np.float64)
    cids, cn = _normalized_centroid_matrix(cent_rows)
    qn = np.linalg.norm(q) or 1.0
    qscores = np.round((cn @ q) / qn, 12)
    # stable argsort on (-score, cid): cids are ascending, so a stable sort
    # by -score keeps smaller cids first among ties
    top = cids[np.argsort(-qscores, kind="stable")[:n_probe]]
    probe = embeddings.sparkSession.createDataFrame(
        [(int(c),) for c in top], "cid int"
    ).select("cid", F.array(*[F.lit(float(v)) for v in q]).alias("q"))
    return _cosine_topk_of(
        assigned.join(F.broadcast(probe), "cid"), query_vec_id, k)


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

#: Tiny fixed English stopword list for the n-gram language heuristic.
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")


def lang_id_heuristic(documents: DataFrame) -> DataFrame:
    """Stopword-ratio language ID: fraction of tokens in a fixed English
    stopword set; >= 4% => 'en'. (A real system uses character n-gram models;
    the heuristic keeps the operator SQL-checkable.)"""
    toks = tokens_col()
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_tok = F.size(toks)
    ratio = F.round(n_stop / F.greatest(n_tok, F.lit(1)), 6)
    return documents.select(
        "doc_id", "lang",
        n_tok.alias("n_tokens"),
        ratio.alias("en_stop_ratio"),
        F.when(ratio >= 0.04, F.lit("en")).otherwise(F.lit("other"))
        .alias("lang_guess"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality features: length, mean word length, punctuation
    ratio, stopword ratio, and a composite score — all codegen'd expressions."""
    toks = tokens_col()
    n_tok = F.size(toks)
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[^a-zA-Z0-9\s]", ""))
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    mean_wl = F.round(
        F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
        / F.greatest(n_tok, F.lit(1)), 6)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(n_stop / F.greatest(n_tok, F.lit(1)), 6)
    # Composite score: 0.5*min(n_tok,100)/100 + 2.5*stop_ratio +
    # 0.2*(1-punct_ratio), computed as one exact integer numerator over one
    # exact integer denominator so the single double division (and its
    # rounding) is bitwise-identical across engines.
    L = F.least(n_tok, F.lit(100)).cast("long")
    T = F.greatest(n_tok, F.lit(1)).cast("long")
    C = F.greatest(n_chars, F.lit(1)).cast("long")
    numer = (L * 5 * T * C + n_stop.cast("long") * 2500 * C
             + (C - n_punct.cast("long")) * 200 * T)
    score = F.round(numer / (T * C * 1000), 6)
    return documents.select(
        "doc_id", n_tok.alias("n_tokens"), n_chars.alias("n_chars_raw"),
        mean_wl.alias("mean_word_len"), punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"), score.alias("quality"))


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace token count plus a BPE-ish subword proxy count (letter runs,
    single digits, punctuation marks each count as one token)."""
    ws = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")))
    bpe = F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
    return documents.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_ish_tokens"))


def repetition_scores(documents: DataFrame) -> DataFrame:
    """Gopher/MassiveText-style repetition features (Rae et al. 2021 §A1.1):
    the fraction of duplicate lines and the text fraction claimed by the most
    frequent word 2-gram / 3-gram. High values flag boilerplate (nav bars,
    cookie banners, SEO spam) that survives document-level dedup.

    All per-document array expressions (codegen'd, no shuffle, no Python);
    the most-frequent-gram count sorts the gram array and takes the longest
    equal-run in one fold — O(d log d) in the document's gram count d, never
    in the corpus size. (The previous shape re-scanned all d grams once per
    DISTINCT gram — O(d·u) — which a single pathological 1M-token document
    turns into a ~10^11-comparison task-level straggler.)
    """
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""))
    n_lines = F.size(lines)
    dup_line_frac = F.round(
        (n_lines - F.size(F.array_distinct(lines)))
        / F.greatest(n_lines, F.lit(1)), 6)

    def top_gram_frac(n: int) -> Column:
        g = shingles_col(tokens_col(), n)
        # Longest run of equal adjacent elements in the sorted gram array ==
        # the most frequent gram's count. Single left-to-right fold; the
        # empty-gram case falls out as the init state's best=0. The init
        # prev="" never matches a real gram (tokens are non-empty).
        top = F.aggregate(
            F.array_sort(g),
            F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                     F.lit(0).alias("best")),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1)
                    .otherwise(F.lit(1))).alias("best")),
            lambda acc: acc["best"])
        return F.round(top / F.greatest(F.size(g), F.lit(1)), 6)

    return documents.select(
        "doc_id",
        n_lines.alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        top_gram_frac(2).alias("top_2gram_frac"),
        top_gram_frac(3).alias("top_3gram_frac"),
    )


def stratified_sample(documents: DataFrame, rates: dict[str, float],
                      default_rate: float = 1.0,
                      seed: str = "strat") -> DataFrame:
    """Deterministic per-source downsampling — the data-mixing step of a
    training pipeline (keep p_source of each source's documents). Membership
    is a pure hash predicate (md5 of seed:doc_id mod 1e6 < rate*1e6): no
    shuffle, no RNG state, reproducible on any cluster and by the SQL oracle.
    Resampling with a different seed draws an independent subset."""
    bucket = _md5_bucket(
        F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string")),
        prefix="") % 1_000_000
    rate_col = F.lit(int(default_rate * 1_000_000))
    for src, r in sorted(rates.items()):
        rate_col = F.when(F.col("source") == src,
                          F.lit(int(r * 1_000_000))).otherwise(rate_col)
    return documents.filter(bucket < rate_col).select("doc_id", "source")


def benchmark_overlap(documents: DataFrame, benchmark: DataFrame,
                      n: int = 3) -> DataFrame:
    """Benchmark decontamination: per document, the fraction of its distinct
    word n-grams that occur anywhere in the benchmark corpus (the GPT-3-style
    n-gram contamination check; n=13 in the papers, parameterized here).
    Documents above a threshold are dropped before training so eval sets
    stay unseen.

    Shape: one equi-join of the corpus's exploded distinct shingles against
    the benchmark's distinct-shingle set, then a per-doc count — never a
    cross product. Benchmark sets are typically tiny next to the corpus;
    AQE broadcasts the build side automatically, so the corpus side needs
    no extra exchange beyond the explode's."""
    sh = _distinct_shingles(documents, n)
    bench_sh = (
        benchmark.select(
            F.explode(F.array_distinct(shingles_col(tokens_col(), n)))
            .alias("shingle"))
        .distinct().withColumn("hit", F.lit(1)))
    per_doc = (
        sh.join(bench_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"),
             F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap")))
    return (
        documents.select("doc_id").join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long")
            .alias("n_shingles"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long")
            .alias("n_overlap"),
            F.round(F.coalesce(F.col("n_overlap"), F.lit(0))
                    / F.greatest(F.coalesce(F.col("n_shingles"), F.lit(0)),
                                 F.lit(1)), 6)
            .alias("contamination_frac"),
        ))


def repeated_spans(documents: DataFrame, w: int = 10,
                   min_docs: int = 2) -> DataFrame:
    """Substring-level duplication signal (the exact-substring dedup family,
    Lee et al. 2021): per document, the fraction of its distinct w-token
    windows that also occur in at least ``min_docs - 1`` OTHER documents.
    Document-level near-dup misses boilerplate spans pasted into otherwise
    unique pages; a high ``dup_span_frac`` flags exactly those.

    Shape: one explode of distinct windows, one groupBy for cross-document
    window frequency, one equi-join back, one per-doc aggregation — all
    map-side combinable; never quadratic (frequency is counted, not paired).
    """
    win = _distinct_shingles(documents, w, alias="span")
    span_docs = win.groupBy("span").agg(
        F.count("*").alias("span_df"))  # distinct per doc already
    per_doc = (
        win.join(span_docs, "span")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_windows"),
             F.sum(F.when(F.col("span_df") >= min_docs, 1).otherwise(0))
             .alias("n_dup_windows")))
    return (
        documents.select("doc_id").join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_windows"), F.lit(0)).cast("long")
            .alias("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long")
            .alias("n_dup_windows"),
            F.round(F.coalesce(F.col("n_dup_windows"), F.lit(0))
                    / F.greatest(F.coalesce(F.col("n_windows"), F.lit(0)),
                                 F.lit(1)), 6)
            .alias("dup_span_frac"),
        ))


def tfidf_topk_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k terms by tf-idf with ``idf = N/df`` (the log-free
    ratio form). The score is ONE double multiply and ONE double divide over
    exact integers — IEEE ops are correctly rounded, so the ranking is
    bit-identical across engines and cluster sizes (a ``log`` would rank
    identically but risks last-ulp libm differences breaking the oracle
    hash). Ties broken by term; rank is included so downstream keeps order.

    Shape: token explode -> (doc, term) count -> term df count -> equi-join
    -> per-doc window top-k. Two shuffles plus the window exchange. N (the
    document count) is a one-row aggregate broadcast-joined into the score
    expression — part of the same dataflow, not a separate driver
    ``.count()`` job. The join key is ``least(<real column>, 1)`` on both
    sides — a runtime constant (tf >= 1, n >= 1) that Catalyst cannot
    constant-fold away (a literal key folds to TRUE, degrading the join to
    BroadcastNestedLoopJoin and tripping the repo-wide no-cross-product
    plan invariant), so it plans as a plain BroadcastHashJoin."""
    from pyspark.sql import Window

    n_docs = documents.agg(
        F.count("*").cast("double").alias("n_docs_d")).withColumn(
        "_k", F.least(F.col("n_docs_d").cast("long"), F.lit(1)))
    toks = _spread(documents).select(
        "doc_id", F.explode(tokens_col()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(dfc, "term")
              .withColumn("_k", F.least(F.col("tf"), F.lit(1)))
              .join(F.broadcast(n_docs), "_k").drop("_k")
              .withColumn(
        "score", F.col("tf") * F.col("n_docs_d") / F.col("df")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df",
                F.round("score", 6).alias("tfidf"), "rk"))


def lm_perplexity(documents: DataFrame, train: DataFrame | None = None,
                  alpha: float = 0.5, order: int = 1) -> DataFrame:
    """Add-``alpha`` n-gram language-model perplexity per document — the
    CCNet quality signal shape (CCNet buckets web text by KenLM perplexity
    under a reference-corpus model; Dolma and Gopher apply the same
    score-under-a-reference-LM idea). ``train`` is the reference corpus the
    model is counted from (default: the scored corpus itself —
    self-perplexity, the repetition/boilerplate signal); a held-out
    ``train`` gives true out-of-domain perplexity.

    Model: P(g) = (c(g) + alpha) / (c(context) + alpha*V), V the training
    UNIGRAM vocabulary. ``order=1``: g is a token and its context is empty,
    so c(context) = N, the training token count. ``order=2``: g is a bigram
    ``w1 w2`` and c(context) = c(w1); only transitions are scored, so a doc
    with <2 tokens has none. Unseen n-grams (and unseen contexts) price at
    the smoothing floor. Per doc: H = -(1/n) * sum(n_g * log2 P(g)) over its
    ``n_ngrams`` n-grams, perplexity = 2^H; a doc with none keeps its row at
    H = 0, perplexity = 1, as does every doc under an empty ``train``
    (V = 0: no model). Any other ``order`` raises ``ValueError``.

    Scale shape: n-gram-keyed and token-keyed count tables (vocab-sized,
    plain hash groupBys); scoring equi-joins each doc's distinct-n-gram
    counts against them (bounded by doc vocabulary, never exploded per
    occurrence into the join) plus one per-doc re-aggregation. N and V fold
    into the dataflow as a 1-row broadcast hash join (the tfidf trick —
    ``least(col, 1)`` key, no driver ``.count()`` job, no
    BroadcastNestedLoopJoin). No pairs anywhere.

    Cross-engine determinism (DuckDB twins in ``__spark_entry__.py``):
    per-n-gram log-probs round to 12 digits (absorbing libm last-ulp
    differences), and the per-doc sum is an explicit left-to-right fold
    over the KEY-SORTED (n_g, logp) list — never an order-nondeterministic
    double SUM."""
    if order not in (1, 2):
        raise ValueError(f"lm_perplexity: order must be 1 or 2, got {order}")
    train = documents if train is None else train
    tr_toks = _spread(train).select(tokens_col().alias("toks"))
    unigrams = (tr_toks.select(F.explode("toks").alias("g"))
                .groupBy("g").agg(F.count("*").alias("c")))
    nv = unigrams.agg(
        F.sum("c").cast("double").alias("n_train"),
        F.count("*").cast("double").alias("v_train")).withColumn(
        "_k", F.least(F.col("v_train").cast("long"), F.lit(1)))
    doc_grams = tokens_col() if order == 1 else shingles_col(tokens_col(), 2)
    doc_ng = (_spread(documents)
              .select("doc_id", F.explode(doc_grams).alias("g"))
              .groupBy("doc_id", "g").agg(F.count("*").alias("n")))
    if order == 1:
        scored, ctx = doc_ng.join(unigrams, "g", "left"), F.col("n_train")
    else:
        bigrams = (tr_toks.select(F.explode(shingles_col(F.col("toks"), 2))
                                  .alias("g"))
                   .groupBy("g").agg(F.count("*").alias("c")))
        scored = (doc_ng.join(bigrams, "g", "left")
                  .withColumn("w1", F.split_part("g", F.lit(" "), F.lit(1)))
                  .join(unigrams.select(F.col("g").alias("w1"),
                                        F.col("c").alias("c_ctx")),
                        "w1", "left"))
        ctx = F.coalesce(F.col("c_ctx"), F.lit(0)).cast("double")
    logp = F.round(
        F.log2((F.coalesce(F.col("c"), F.lit(0)).cast("double") + alpha)
               / (ctx + alpha * F.col("v_train"))), 12)
    scored = (scored.withColumn("_k", F.least(F.col("n"), F.lit(1)))
              .join(F.broadcast(nv), "_k")
              .select("doc_id", "g", "n", logp.alias("logp")))
    folded = scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_ngrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("g", "n", "logp"))),
            F.lit(0.0),
            lambda acc, s: acc + s["n"].cast("double") * s["logp"],
        ).alias("ll"))
    h = -F.col("ll") / F.greatest(F.col("n_ngrams"), F.lit(1)).cast("double")
    out = folded.select(
        "doc_id", "n_ngrams",
        F.round(h, 6).alias("cross_entropy_bits"),
        F.round(F.pow(F.lit(2.0), h), 6).alias("perplexity"))
    return documents.select("doc_id").join(out, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
        F.coalesce("cross_entropy_bits", F.lit(0.0)).alias("cross_entropy_bits"),
        F.coalesce("perplexity", F.lit(1.0)).alias("perplexity"))


def doc_fingerprint(documents: DataFrame, n: int = 3) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum shingle hash plus the
    distinct-shingle count (cheap containment prefilter for dedup)."""
    sh = shingles_col(tokens_col(), n)
    return documents.select(
        "doc_id",
        F.array_min(F.transform(sh, lambda s: F.md5(s))).alias("min_shingle_md5"),
        F.size(F.array_distinct(sh)).alias("n_distinct_shingles"),
    )


#: PII patterns, shared with tests and the DuckDB oracle. Deliberately simple
#: character-class regexes: Java regex (Spark) and RE2 (DuckDB) agree on
#: leftmost-first greedy matching for these, so counts and replacements are
#: bit-identical cross-engine. Redaction order is email -> IPv4 -> phone:
#: emails contain digits-and-dots an IP pattern could clip, and IPs contain
#: digit runs the phone pattern could clip, so each later pass runs on text
#: the earlier pass already cleaned.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+?\(?\d[\d() -]{7,}\d"


def pii_redact(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub — the redaction pass every public web-text pipeline runs
    before training (emails / IPv4s / phone-shaped digit runs replaced with
    typed placeholder tokens, per-kind counts kept for corpus stats).

    Scale shape: pure per-row JVM expressions (``regexp_count`` +
    ``regexp_replace`` chained) — narrow plan, zero shuffle, whole-stage
    codegen, no Python. At 100 TB this is scan-bound, exactly as it should
    be. Counts are computed BEFORE each replacement on the text as the
    previous pass left it, so overlapping kinds are never double-counted."""
    t0 = F.col(text_col)
    n_emails = F.regexp_count(t0, F.lit(PII_EMAIL_RE))
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    n_ips = F.regexp_count(t1, F.lit(PII_IPV4_RE))
    t2 = F.regexp_replace(t1, PII_IPV4_RE, "<IP>")
    n_phones = F.regexp_count(t2, F.lit(PII_PHONE_RE))
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    return documents.select(
        "doc_id",
        t3.alias("clean_text"),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
    )


def chunk_dedup(documents: DataFrame, chunk_len: int = 20,
                max_docs: int = 1, text_col: str = "text") -> DataFrame:
    """CCNet/Dolma-style boilerplate removal: split every document into
    units, drop every unit whose key appears in more than ``max_docs``
    DISTINCT documents (from ALL of them — boilerplate carries no training
    signal anywhere), and reassemble each document from its surviving units
    in order.

    The unit is chosen per row. A text that CONTAINS a newline splits on
    newline runs into natural paragraphs (blank/whitespace-only ones
    dropped), reassembled newline-joined from their ORIGINAL bytes. Any
    other text splits into fixed ``chunk_len``-token chunks, reassembled
    space-joined — fixed windows are alignment-sensitive (the same
    boilerplate at a different token offset hashes differently), so they
    are the fallback for newline-free text, never the preference. The
    frequency KEY is md5 of the CCNet-style normalization of the unit
    (lowercase, non-alphanumeric runs collapsed to single spaces, trimmed),
    so the same paragraph with different punctuation/casing counts once; a
    token chunk is already normalized. A unit whose normalization is empty
    (non-Latin script, punctuation only) keys on its trimmed text instead,
    so distinct such paragraphs never collide.

    Scale shape: unit rows ~= paragraphs or token count / chunk_len; one
    groupBy(hash) with map-side partial counts, then a LEFT-ANTI join
    against only the hashes that exceeded ``max_docs`` — boilerplate is by
    definition the rare tail of the frequency distribution, so the anti side
    stays small enough for AQE to broadcast (joining every unit against the
    FULL frequency table would shuffle all distinct hashes instead), then
    one re-aggregation by doc_id. Bounded-width rows throughout, no pair
    blow-up anywhere (frequency COUNTS, never pairs — the same never-pair
    rule repeated_spans follows). A doc whose every unit is boilerplate
    survives as an empty string, so row counts are stable for downstream
    joins."""
    base0 = documents.select(
        "doc_id", F.col(text_col).alias("_t"),
        tokens_col(text_col).alias("toks"))
    paras = F.filter(F.split(F.col("_t"), "\n+"),
                     lambda p: F.trim(p) != F.lit(""))
    n_chunks = F.ceil(F.size("toks") / F.lit(float(chunk_len))).cast("int")
    # sequence(0, -1) would COUNT DOWN ([0, -1]); guard the empty case.
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)) \
        .otherwise(F.array().cast("array<int>"))
    tok_chunks = F.transform(idx, lambda i: F.array_join(
        F.slice("toks", i * chunk_len + 1, chunk_len), " "))
    base = (base0
            .withColumn("para", F.col("_t").contains("\n"))
            .withColumn("units", F.when(F.col("para"), paras)
                        .otherwise(tok_chunks))
            .select("doc_id", "para", "units",
                    F.size("units").alias("n_units")))
    norm = F.trim(F.regexp_replace(F.lower("unit"), "[^a-z0-9]+", " "))
    units = base.select(
        "doc_id", F.posexplode("units").alias("pos", "unit"),
    ).withColumn("h", F.md5(F.coalesce(F.nullif(norm, F.lit("")),
                                       F.trim("unit"))))
    boiler = units.groupBy("h").agg(
        F.countDistinct("doc_id").alias("unit_df")) \
        .where(F.col("unit_df") > max_docs).select("h")
    kept = units.join(boiler, "h", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                    lambda s: s["unit"]).alias("kept"),
        F.count("*").alias("n_kept"),
    )
    clean = F.when(F.col("para"), F.array_join("kept", "\n")) \
        .otherwise(F.array_join("kept", " "))
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(clean, F.lit("")).alias("clean_text"),
        (F.col("n_units") - F.coalesce("n_kept", F.lit(0)))
        .cast("long").alias("n_dropped_chunks"),
    )
