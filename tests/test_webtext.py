"""Brute-force Python oracles for the webtext operators whose pair-generation
shapes have no DuckDB twin (MinHash LSH, SimHash, hyperplane ANN) plus unit
checks for the shared tokenizer building blocks. Runs at sf0.001 (500 docs)."""

import hashlib
import math
import re

import pytest

from pyspark.sql import functions as F

from suckit_spark.operators import webtext

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def py_tokens(text):
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def py_shingles(tokens, n=3):
    if len(tokens) < n:
        return []
    return [" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)]


def md5_bucket(s, prefix, hexlen=8):
    return int(hashlib.md5((prefix + s).encode()).hexdigest()[:hexlen], 16)


def test_tokens_and_shingles_match(spark, docs):
    rows = docs.select("doc_id", "text",
                       webtext.tokens_col().alias("toks")).collect()
    for r in rows[:50]:
        assert list(r.toks) == py_tokens(r.text)
    sh = docs.select(
        "doc_id", "text",
        webtext.shingles_col(webtext.tokens_col(), 3).alias("sh")).collect()
    for r in sh[:50]:
        assert list(r.sh) == py_shingles(py_tokens(r.text), 3)


def test_minhash_signatures_match_python(spark, docs):
    got = {r.doc_id: [r[f"h{i}"] for i in range(8)]
           for r in webtext.minhash_signatures(docs, num_hashes=8).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for doc_id in list(got)[:40]:
        shingles = set(py_shingles(py_tokens(texts[doc_id]), 3))
        expect = [min(md5_bucket(s, f"{i}:") for s in shingles)
                  for i in range(8)]
        assert got[doc_id] == expect, f"doc {doc_id}"


def test_minhash_lsh_pairs_match_python(spark, docs):
    got = {(r.doc_a, r.doc_b)
           for r in webtext.minhash_lsh_pairs(docs, 16, 4).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    sigs = {}
    for doc_id, text in texts.items():
        shingles = set(py_shingles(py_tokens(text), 3))
        if not shingles:
            continue
        sigs[doc_id] = [min(md5_bucket(s, f"{i}:") for s in shingles)
                        for i in range(16)]
    buckets = {}
    for doc_id, sig in sigs.items():
        for b in range(4):
            band = ",".join(str(v) for v in sig[b * 4:(b + 1) * 4])
            key = (b, hashlib.md5(band.encode()).hexdigest())
            buckets.setdefault(key, []).append(doc_id)
    expect = set()
    for members in buckets.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                expect.add((ms[i], ms[j]))
    assert got == expect


def py_simhash(text, use_bits=60):
    votes = [0] * use_bits
    for t in py_tokens(text):
        th = md5_bucket(t, "sim:", 15)
        for b in range(use_bits):
            votes[b] += 1 if (th >> b) & 1 else -1
    return sum((1 << b) for b in range(use_bits) if votes[b] > 0)


def test_simhash_matches_python(spark, docs):
    got = {r.doc_id: r.simhash for r in webtext.simhash(docs).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for doc_id in list(got)[:40]:
        assert got[doc_id] == py_simhash(texts[doc_id]), f"doc {doc_id}"


def py_jaccard_pairs(texts, n=3, threshold=0.2, max_df=None):
    sh = {d: set(py_shingles(py_tokens(t), n)) for d, t in texts.items()}
    if max_df is not None:
        df = {}
        for s_set in sh.values():
            for s in s_set:
                df[s] = df.get(s, 0) + 1
        sh = {d: {s for s in ss if df[s] <= max_df} for d, ss in sh.items()}
    out = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if round(j, 6) >= threshold:
                out[(a, b)] = round(j, 6)
    return out


def test_ngram_jaccard_uncapped_self_join(spark, docs):
    """max_df=None must take the equi-self-join shape (no in-array df²
    expansion) and still match the brute-force oracle at low and high
    thresholds; a df≈N stop-shingle corpus completes."""
    texts = {r.doc_id: r.text for r in docs.collect()}
    for t in (0.2, 0.5, 0.8):
        got = {(r.doc_a, r.doc_b): r.jaccard
               for r in webtext.ngram_jaccard_pairs(
                   docs, n=3, threshold=t, max_df=None).collect()}
        want = py_jaccard_pairs(texts, 3, t, None)
        assert want, f"threshold {t}: the oracle finds no pair to check"
        assert got == want, f"threshold {t}"
    # plan shape: the uncapped variant must not build posting-list arrays
    plan = webtext.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2, max_df=None)._jdf.queryExecution().toString()
    assert "collect_list" not in plan
    # a shared shingle across every doc must not OOM: all docs share one
    # 3-token prefix -> df == N for that shingle; the self-join spreads it
    shared = spark.createDataFrame(
        [(i, "alpha beta gamma tail%d x%d y%d" % (i, i * 3, i * 7))
         for i in range(200)], "doc_id long, text string")
    res = webtext.ngram_jaccard_pairs(shared, n=3, threshold=0.01,
                                      max_df=None)
    assert res.count() > 0


def test_ngram_jaccard_capped_matches_python(spark, docs):
    texts = {r.doc_id: r.text for r in docs.limit(80).collect()}
    sub = docs.filter(F.col("doc_id").isin(*texts.keys()))
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in webtext.ngram_jaccard_pairs(
               sub, n=3, threshold=0.2, max_df=20).collect()}
    assert got == py_jaccard_pairs(texts, 3, 0.2, 20)


def test_simhash_near_pairs_sound_and_complete(spark, docs):
    """Soundness: every reported pair has the claimed hamming <= t.
    Completeness (NO carve-out): every pair within distance t appears —
    the chunk count is derived from t (pigeonhole), so the bucketed join
    is exact, not a recall-bounded candidate generator."""
    for t in (8, 20):
        pairs = {(r.doc_a, r.doc_b): r.hamming
                 for r in webtext.simhash_near_pairs(docs, max_hamming=t).collect()}
        fps = {r.doc_id: r.simhash for r in webtext.simhash(docs).collect()}
        for (a, b), h in pairs.items():
            assert bin(fps[a] ^ fps[b]).count("1") == h
            assert h <= t
        ids = sorted(fps)
        for i in range(0, len(ids), 3):    # sample to keep runtime sane
            for j in range(i + 1, len(ids), 5):
                a, b = ids[i], ids[j]
                ham = bin(fps[a] ^ fps[b]).count("1")
                if ham <= t:
                    assert (a, b) in pairs, (a, b, ham, t)


def py_cosine(a, b):
    dot = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    na = math.sqrt(sum(float(x) * float(x) for x in a))
    nb = math.sqrt(sum(float(y) * float(y) for y in b))
    return dot / (na * nb)


def test_cosine_topk_matches_python(spark, emb):
    got = [(r.vec_id, r.cosine) for r in
           webtext.cosine_topk(emb, query_vec_id=0, k=10).collect()]
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    q = vecs[0]
    scored = sorted(
        ((vid, round(py_cosine(v, q), 6)) for vid, v in vecs.items()
         if vid != 0),
        key=lambda t: (-t[1], t[0]))[:10]
    assert got == scored


def test_ann_buckets_match_python(spark, emb):
    import numpy as np
    got = {r.vec_id: r.bucket
           for r in webtext.ann_lsh_buckets(emb, num_planes=12).collect()}
    planes = webtext.lsh_hyperplanes(64, 12)
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    for vid, v in list(vecs.items())[:60]:
        sig = 0
        for p, plane in enumerate(planes):
            dot = 0.0
            for x, y in zip(v, plane):
                dot += float(x) * float(y)
            if dot > 0:
                sig |= 1 << p
        assert got[vid] == sig, vid


def test_ann_bucketed_topk_is_bucket_restricted(spark, emb):
    buckets = {r.vec_id: r.bucket
               for r in webtext.ann_lsh_buckets(emb, num_planes=8).collect()}
    qb = buckets[0]
    got = webtext.ann_bucketed_topk(emb, 0, k=10, num_planes=8).collect()
    assert len(got) >= 1
    for r in got:
        assert buckets[r.vec_id] == qb
    cosines = [r.cosine for r in got]
    assert cosines == sorted(cosines, reverse=True)


def test_embedding_near_dup_matches_python(spark, emb):
    thr = 0.4
    got = {(r.vec_a, r.vec_b): r.cosine
           for r in webtext.embedding_near_dup(emb, threshold=thr).collect()}
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    ids = sorted(vecs)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            c = round(py_cosine(vecs[a], vecs[b]), 6)
            if c >= thr:
                expect[(a, b)] = c
    assert got == expect


def test_embedding_near_dup_lsh_subset_with_recall(spark, emb):
    thr = 0.4
    exact = {(r.vec_a, r.vec_b): r.cosine
             for r in webtext.embedding_near_dup(emb, threshold=thr).collect()}
    lsh = {(r.vec_a, r.vec_b): r.cosine
           for r in webtext.embedding_near_dup_lsh(
               emb, threshold=thr, num_planes=4, num_tables=12).collect()}
    # precision 1.0: every LSH pair is a true pair with the exact cosine
    for pair, c in lsh.items():
        assert exact[pair] == c
    # recall: a cosine-0.4 pair collides in >=1 of 12 four-plane tables with
    # prob ~0.87; assert a loose floor well below the expectation
    assert exact, "test needs at least one true pair at this threshold"
    assert len(lsh) / len(exact) >= 0.5


def test_ivf_topk_true_cosines_and_recall(spark, emb):
    got = webtext.ivf_topk(emb, query_vec_id=0, k=10,
                           n_centroids=8, n_probe=3).collect()
    assert len(got) == 10
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    q = vecs[0]
    # reported cosines are the true cosines (IVF approximates the candidate
    # set, never the metric)
    for r in got:
        assert r.cosine == round(py_cosine(vecs[r.vec_id], q), 6)
    # recall vs exact top-10
    exact = sorted(((vid, round(py_cosine(v, q), 6))
                    for vid, v in vecs.items() if vid != 0),
                   key=lambda t: (-t[1], t[0]))[:10]
    hits = {r.vec_id for r in got} & {vid for vid, _ in exact}
    assert len(hits) >= 5


def test_ivf_probe_all_cells_equals_exact(spark, emb):
    # with n_probe == n_centroids IVF degenerates to exact brute force
    got = [(r.vec_id, r.cosine) for r in webtext.ivf_topk(
        emb, query_vec_id=0, k=10, n_centroids=4, n_probe=4).collect()]
    exact = [(r.vec_id, r.cosine) for r in
             webtext.cosine_topk(emb, query_vec_id=0, k=10).collect()]
    assert got == exact


def test_ivf_matmul_assignment_is_pure_projection(spark, emb):
    """The matmul assignment stays one Arrow-batched projection — no Join,
    no Window, no Exchange — at a few centroids and at more than a thousand
    (the centroid count no longer reaches the plan, only the UDF closure)."""
    from suckit_spark.plans.crawl import _plan_string

    dim = len(emb.first()["embedding"])
    few = [(r["vec_id"], [float(v) for v in r["embedding"]])
           for r in emb.limit(4).collect()]
    many = [(i, [float((i * 7 + j) % 13) for j in range(dim)])
            for i in range(1025)]
    for cent_rows in (few, many):
        plan = _plan_string(webtext.ivf_assign_cells(emb, cent_rows),
                            "simple")
        assert "ArrowEvalPython" in plan, plan
        for node in ("Join", "Window", "Exchange"):
            assert node not in plan, f"{node} in plan:\n{plan}"


def test_ivf_topk_matmul_regime_2k_centroids(spark):
    """End-to-end ivf_topk at real-IVF centroid counts: 2k centroids over a
    4k synthetic corpus still returns the true top-k of the probed cells
    (k-row sanity + exact-cosine agreement with the brute-force scorer on
    the result set)."""
    import math

    dim = 16
    n = 4000
    vecs = spark.range(n).select(
        F.col("id").cast("int").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: ((F.col("id") * (j + 3) % 17) - 8).cast("float")
        ).alias("embedding"),
        F.concat(F.lit("l"), F.col("id") % 5).alias("label"))
    got = webtext.ivf_topk(vecs, query_vec_id=0, k=10, n_centroids=2000,
                           n_probe=40, dim=dim).collect()
    assert len(got) == 10
    rows = {r["vec_id"]: [float(v) for v in r["embedding"]]
            for r in vecs.collect()}
    q = rows[0]

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(x * x for x in a))
                      * math.sqrt(sum(x * x for x in b)))

    for r in got:
        assert abs(r.cosine - cos(rows[r.vec_id], q)) < 1e-5


def test_exact_dedup_finds_real_dups(spark):
    rows = [(i, "same text here") for i in range(5)] + [(9, "unique")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.content_hash: (r.rep_doc_id, r.dup_count)
           for r in webtext.exact_dedup(df).collect()}
    assert sorted(v for v in got.values()) == [(0, 5), (9, 1)]


def test_near_dup_clusters_transitive(spark):
    """A~B, B~C, D~E: components {A,B,C} and {D,E}, cluster id = min member —
    transitive closure across pairs that were never directly compared."""
    pairs = spark.createDataFrame(
        [(2, 7), (7, 5), (11, 9)], "doc_a int, doc_b int")
    got = {(r.doc_id, r.cluster_id)
           for r in webtext.near_dup_clusters(pairs).collect()}
    assert got == {(2, 2), (7, 2), (5, 2), (9, 9), (11, 9)}


def test_near_dup_clusters_chain_diameter(spark):
    """A path graph (worst diameter) still converges to one component."""
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a int, doc_b int")
    rows = webtext.near_dup_clusters(pairs).collect()
    assert len(rows) == n + 1
    assert {r.cluster_id for r in rows} == {0}


def test_dedup_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id int, text string")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 4)], "doc_a int, doc_b int")
    kept = {r.doc_id
            for r in webtext.dedup_keep_canonical(docs, pairs).collect()}
    # cluster {1,3,4} -> keep 1; unpaired 0,2,5 all kept
    assert kept == {0, 1, 2, 5}


# ---------------------------------------------------------------- round 3

def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_ngram_jaccard_leaves_no_cached_blocks(spark, docs):
    """Round-2 finding: both ngram paths persisted intermediates and never
    released them — repeated calls accumulated cached shingle tables for the
    session lifetime. The shared intermediates now rely on ReusedExchange
    instead; after the operator is fully consumed, no new persistent RDDs
    (and no cached catalog tables) may remain."""
    before = _persistent_rdd_ids(spark)
    webtext.ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_df=20).collect()
    webtext.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    after = _persistent_rdd_ids(spark)
    assert after - before == set(), "operator leaked cached RDD blocks"


def test_minhash_lsh_max_bucket_caps_degenerate_buckets(spark):
    """A bucket of df near-identical docs emits df² pairs uncapped; with
    max_bucket the oversized (band, hash) buckets are dropped BEFORE any
    pair exists, while selective buckets keep their pairs."""
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different text about spark shuffle partitions and arrow"
    rows = [(i, boiler) for i in range(40)] + [(41, other), (42, other)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = webtext.minhash_lsh_pairs(docs, 16, 4)
    assert uncapped.count() == 40 * 39 // 2 + 1  # the df² blow-up

    capped = webtext.minhash_lsh_pairs(docs, 16, 4, max_bucket=10)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert got == {(41, 42)}  # boilerplate buckets dropped, selective kept

    # plan shape: the capped path generates pairs inside the bounded array —
    # no join at all, so no degenerate bucket can cross a join boundary
    plan = capped._sc._jvm.PythonSQLUtils.explainString(
        capped._jdf.queryExecution(), "simple")
    assert "Join" not in plan


def test_near_dup_clusters_warns_on_nonconvergence(spark):
    import warnings

    # path graph 0-1-2-...-7: diameter 7, so 2 rounds cannot converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "doc_a long, doc_b long")
    with pytest.warns(RuntimeWarning, match="did not converge"):
        webtext.near_dup_clusters(pairs, max_iters=2).collect()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        labels = webtext.near_dup_clusters(pairs, max_iters=20).collect()
    assert {r.cluster_id for r in labels} == {0}  # one component, min label


def _ivf_mean_recall(df, centroids, queries, n_probe, dim):
    tot = 0.0
    for q in queries:
        brute = {r.vec_id for r in webtext.cosine_topk(df, q, 10).collect()}
        got = {r.vec_id for r in webtext.ivf_topk(
            df, q, 10, n_centroids=8, n_probe=n_probe, dim=dim,
            centroids=centroids).collect()}
        tot += len(got & brute) / len(brute)
    return tot / len(queries)


def test_ivf_kmeans_centroids_recall_clustered(spark):
    """Where the data HAS cluster structure, spherical-KMeans cells follow it
    and IVF recall beats the prefix placeholder — especially under the
    realistic hazard that vec_id order correlates with the data (here the
    first 8 ids all live in ONE true cluster, so the prefix centroids carve
    that cluster into 8 cells and lump the other 7 clusters together)."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.randn(8, 16)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(400):
        c = i // 50                       # ids are cluster-ordered
        v = centers[c] + 0.15 * rng.randn(16)
        v /= np.linalg.norm(v)
        rows.append((i, f"c{c}", [float(x) for x in v]))
    cl = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>").cache()
    cl.count()
    qs = list(range(0, 400, 55))          # one query per true cluster, ~even
    r_prefix = _ivf_mean_recall(cl, "prefix", qs, n_probe=1, dim=16)
    r_kmeans = _ivf_mean_recall(cl, "kmeans", qs, n_probe=1, dim=16)
    cl.unpersist()
    assert r_kmeans >= 0.9                # true cells: 1 probe ~= exact
    assert r_kmeans > r_prefix            # id-biased prefix cells lose


def test_ivf_kmeans_centroids_recall_real_table(spark, emb):
    """On the synthetic embeddings table (near-uniform directions, no real
    cluster structure) kmeans and prefix cells are statistically equivalent;
    averaged over 10 queries kmeans must not be worse beyond one neighbor of
    noise (measured: kmeans 0.58 vs prefix 0.57 at these settings)."""
    qs = list(range(0, 200, 20))
    r_prefix = _ivf_mean_recall(emb, "prefix", qs, n_probe=3, dim=64)
    r_kmeans = _ivf_mean_recall(emb, "kmeans", qs, n_probe=3, dim=64)
    assert r_kmeans >= r_prefix - 0.1
    assert r_kmeans >= 0.35  # probing 3/8 cells keeps most of the answer


# ------------------------------------------------------ curation operators

def test_ann_recall_at_sf01_scale(spark):
    """Measured recall for the ANN family vs the exact backstops at the
    sf0.1 embeddings (2000 × dim-64 — the largest table in the sandbox),
    asserted against the ANALYTIC bounds the operators advertise.
    Everything here is deterministic (md5 hyperplanes, fixed corpus), so
    the measured numbers are reproducible exactly; the full measurement
    protocol and values are recorded in BENCH/ANN_RECALL.md.

    - embedding_near_dup_lsh: a pair at cosine exactly t collides in >=1 of
      the 12 tables with probability 1-(1-(1-acos(t)/pi)^4)^12 (docstring
      formula). Every exact pair has cosine >= t, so measured recall must
      beat the bound AT t (0.8734 at t=0.4; measured 0.8837 over 920 pairs).
    - ivf_topk (prefix centroids, n_probe=4/16): measured 0.9875 mean@10
      over 8 queries; assert >= 0.95 on the 4 checked here (all 1.0)."""
    import math

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    emb = emb.cache()
    threshold = 0.4
    exact = {(r.vec_a, r.vec_b) for r in webtext.embedding_near_dup(
        emb, threshold=threshold).collect()}
    lsh = {(r.vec_a, r.vec_b) for r in webtext.embedding_near_dup_lsh(
        emb, threshold=threshold).collect()}
    assert len(exact) > 500          # the regime is dense enough to measure
    recall = len(lsh & exact) / len(exact)
    p_plane = 1 - math.acos(threshold) / math.pi
    bound = 1 - (1 - p_plane ** 4) ** 12
    assert recall >= bound, (recall, bound)
    # precision is exact by construction (every candidate is cosine-verified)
    assert lsh <= exact

    ivf_recalls = []
    for qid in range(4):
        ex = {r.vec_id for r in webtext.cosine_topk(
            emb, query_vec_id=qid, k=10).collect()}
        got = {r.vec_id for r in webtext.ivf_topk(
            emb, query_vec_id=qid, k=10, n_centroids=16, n_probe=4,
            dim=64).collect()}
        ivf_recalls.append(len(got & ex) / 10)
    assert sum(ivf_recalls) / len(ivf_recalls) >= 0.95, ivf_recalls
    emb.unpersist()


def test_lm_perplexity_crafted(spark):
    """Hand-computed add-alpha unigram perplexities, self-trained: model
    counts a=5, b=1 (N=6, V=2, alpha=0.5) over the two docs."""
    import math

    df = spark.createDataFrame(
        [(0, "a a a a"), (1, "a b"), (2, "")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in webtext.lm_perplexity(df).collect()}
    p_a = (5 + 0.5) / (6 + 0.5 * 2)
    p_b = (1 + 0.5) / (6 + 0.5 * 2)
    lp_a = round(math.log2(p_a), 12)
    lp_b = round(math.log2(p_b), 12)
    h0 = -(4 * lp_a) / 4
    h1 = -(lp_a + lp_b) / 2
    assert got[0].n_ngrams == 4
    assert got[0].cross_entropy_bits == round(h0, 6)
    assert got[0].perplexity == round(2 ** h0, 6)
    assert got[1].cross_entropy_bits == round(h1, 6)
    # the repetitive doc is LOWER self-perplexity than the diverse one —
    # the boilerplate signal CCNet buckets on
    assert got[0].perplexity < got[1].perplexity
    # empty doc keeps its row at the defined floor
    assert got[2].n_ngrams == 0 and got[2].perplexity == 1.0


def test_lm_perplexity_heldout_train(spark):
    """A held-out training corpus prices unseen tokens at the smoothing
    floor alpha/(N + alpha*V) — out-of-domain docs score strictly higher
    than in-domain ones."""
    import math

    train = spark.createDataFrame(
        [(10, "the cat sat on the mat"), (11, "the dog sat")],
        "doc_id long, text string")
    score = spark.createDataFrame(
        [(0, "the cat sat"), (1, "quantum flux capacitor")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           webtext.lm_perplexity(score, train=train).collect()}
    assert got[0].perplexity < got[1].perplexity
    # unseen-token doc: every token at the floor, N=9 V=6 alpha=0.5
    floor = 0.5 / (9 + 0.5 * 6)
    h = -round(math.log2(floor), 12)
    assert got[1].cross_entropy_bits == round(h, 6)
    # an empty train has no model: no n-gram is scored, at either order
    empty = spark.createDataFrame([], "doc_id long, text string")
    for order in (1, 2):
        got = webtext.lm_perplexity(score, train=empty, order=order).collect()
        assert {(r.n_ngrams, r.perplexity) for r in got} == {(0, 1.0)}


def test_lm_perplexity_bigram_crafted(spark):
    """Hand-computed conditional bigram perplexities, self-trained:
    bigram counts 'a b'=3, 'b a'=2; prefix counts a=5, b=3; V=2."""
    import math

    df = spark.createDataFrame(
        [(0, "a b a b a"), (1, "a b"), (2, "a"), (3, "")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in webtext.lm_perplexity(df, order=2).collect()}
    lp_ba = round(math.log2((3 + 0.5) / (5 + 0.5 * 2)), 12)  # P(b|a)
    lp_ab = round(math.log2((2 + 0.5) / (3 + 0.5 * 2)), 12)  # P(a|b)
    h0 = -(2 * lp_ba + 2 * lp_ab) / 4
    assert got[0].n_ngrams == 4
    assert got[0].cross_entropy_bits == round(h0, 6)
    assert got[0].perplexity == round(2 ** h0, 6)
    assert got[1].cross_entropy_bits == round(-lp_ba, 6)
    # <2 tokens: no transitions to score — defined floor
    assert got[2].n_ngrams == 0 and got[2].perplexity == 1.0
    assert got[3].n_ngrams == 0 and got[3].perplexity == 1.0
    # held-out: unseen prefix AND bigram floor at 1/V
    train = spark.createDataFrame(
        [(9, "x y x z")], "doc_id long, text string")  # V=3
    oos = spark.createDataFrame(
        [(0, "q r")], "doc_id long, text string")
    got2 = webtext.lm_perplexity(oos, train=train, order=2).collect()[0]
    assert got2.cross_entropy_bits == round(
        -round(math.log2(0.5 / (0.5 * 3)), 12), 6)
    # only unigram and bigram models exist
    with pytest.raises(ValueError):
        webtext.lm_perplexity(df, order=3)


def test_repetition_scores_crafted(spark):
    rows = [
        # 4 lines, 2 dups of "nav bar"; "a b" appears 3x of 5 bigrams
        (0, "nav bar\nnav bar\nnav bar\ncontent here a b a b a b"),
        (1, "unique one\nunique two"),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in webtext.repetition_scores(df).collect()}
    assert got[0].n_lines == 4 and got[0].dup_line_frac == round(2 / 4, 6)
    assert got[1].dup_line_frac == 0.0
    assert got[2].n_lines == 0 and got[2].dup_line_frac == 0.0
    assert got[2].top_2gram_frac == 0.0
    # doc 1 bigrams: "unique one", "one unique", "unique two" -> top 1/3
    assert got[1].top_2gram_frac == round(1 / 3, 6)


def test_repetition_scores_long_doc_bounded(spark):
    """A single pathological long document must not become a task-level
    straggler. Two quadratics were removed: the top-gram count is now
    O(d log d) (sort + one fold) instead of O(d·u) re-scans, and
    shingles_col binds the token array once per row instead of re-splitting
    the document per shingle index (O(d^2) — 87 s for a mere 20k tokens).
    The wall-clock bound pins both: 100k tokens must finish in seconds."""
    import time

    # 100k tokens, ~50k distinct bigrams, one dominant gram ("x x" run).
    words = " ".join(f"w{i % 50_000}" for i in range(90_000))
    text = words + " " + " ".join(["x"] * 10_000)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    t0 = time.monotonic()
    row = webtext.repetition_scores(df).collect()[0]
    wall = time.monotonic() - t0
    assert wall < 60, f"long-doc repetition took {wall:.1f}s — quadratic?"
    # the "x x" bigram appears 9_999 times out of 99_999 bigrams
    assert row.top_2gram_frac == round(9_999 / 99_999, 6)


def test_stratified_sample_rates_and_determinism(spark, docs):
    rates = {"src0": 1.0, "src1": 0.0}
    out = webtext.stratified_sample(docs, rates, default_rate=0.5)
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in out.collect())
    assert a == b  # pure hash predicate — no RNG state
    per_src = {r.source: r.n for r in
               out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_src0 = docs.filter(F.col("source") == "src0").count()
    assert per_src.get("src0") == n_src0      # rate 1.0 keeps all
    assert "src1" not in per_src              # rate 0.0 keeps none
    total_rest = docs.filter(~F.col("source").isin("src0", "src1")).count()
    kept_rest = sum(n for s, n in per_src.items() if s != "src0")
    assert 0.3 * total_rest < kept_rest < 0.7 * total_rest

    # a different seed draws a different subset at the same rates
    other = webtext.stratified_sample(docs, rates, default_rate=0.5,
                                      seed="strat2")
    assert sorted(r.doc_id for r in other.collect()) != a


def test_benchmark_overlap_crafted(spark):
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta"),       # shingles: abg, bgd
         (1, "alpha beta gamma"),             # exactly the benchmark doc
         (2, "totally different words here"),
         (3, "xy")],                          # too short: no shingles
        "doc_id long, text string")
    bench = spark.createDataFrame([(9, "alpha beta gamma")],
                                  "doc_id long, text string")
    got = {r.doc_id: r for r in
           webtext.benchmark_overlap(corpus, bench, n=3).collect()}
    assert got[1].contamination_frac == 1.0
    assert got[0].n_shingles == 2 and got[0].n_overlap == 1
    assert got[0].contamination_frac == 0.5
    assert got[2].n_overlap == 0 and got[2].contamination_frac == 0.0
    assert got[3].n_shingles == 0 and got[3].contamination_frac == 0.0


def test_repeated_spans_crafted(spark):
    shared = "one two three four five"
    rows = [
        (0, f"{shared} unique tail words here"),
        (1, f"{shared} different ending entirely now"),
        (2, "completely separate text with no common spans at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           webtext.repeated_spans(df, w=5).collect()}
    # the shared 5-token window is duplicated across docs 0 and 1
    assert got[0].n_dup_windows == 1 and got[1].n_dup_windows == 1
    assert got[2].n_dup_windows == 0 and got[2].dup_span_frac == 0.0
    assert got[0].dup_span_frac == round(1 / got[0].n_windows, 6)


def test_tfidf_topk_crafted(spark):
    rows = [
        (0, "apple apple apple common"),
        (1, "banana banana common common"),
        (2, "cherry common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = webtext.tfidf_topk_terms(df, k=2).collect()
    top = {r.doc_id: [x.term for x in sorted(out, key=lambda y: y.rk)
                      if x.doc_id == r.doc_id] for r in out}
    # the doc-specific term always outranks the corpus-wide one
    assert top[0][0] == "apple" and top[1][0] == "banana"
    assert top[2][0] == "cherry" and top[2][1] == "common"
    by = {(r.doc_id, r.term): r for r in out}
    assert by[(0, "apple")].tf == 3 and by[(0, "apple")].df == 1
    assert by[(0, "apple")].tfidf == 9.0  # 3 * 3/1


def test_pii_redact_crafted(spark):
    rows = [
        (0, "mail bob.smith+x@foo-bar.example.org now"),
        (1, "server at 10.0.255.7 and 192.168.1.1 up"),
        (2, "call +1 555 0100 99 today"),
        (3, "a@b.cc from 1.2.3.4 dial (06) 1234-5678 end"),
        (4, "nothing sensitive here"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in webtext.pii_redact(df).collect()}
    assert got[0].clean_text == "mail <EMAIL> now"
    assert (got[0].n_emails, got[0].n_ips, got[0].n_phones) == (1, 0, 0)
    assert got[1].clean_text == "server at <IP> and <IP> up"
    assert got[1].n_ips == 2
    assert got[2].clean_text == "call <PHONE> today"
    assert got[2].n_phones == 1
    # all three kinds in one text; each pass runs on the previous output,
    # so the IP is not re-counted as a phone
    assert got[3].clean_text == "<EMAIL> from <IP> dial <PHONE> end"
    assert (got[3].n_emails, got[3].n_ips, got[3].n_phones) == (1, 1, 1)
    assert got[4].clean_text == "nothing sensitive here"
    assert (got[4].n_emails, got[4].n_ips, got[4].n_phones) == (0, 0, 0)
    assert got[5].clean_text == ""


def test_chunk_dedup_crafted(spark):
    boiler = " ".join(f"b{i}" for i in range(20))       # one exact chunk
    uniq = lambda d, j: " ".join(f"u{d}x{j}w{i}" for i in range(20))
    rows = [
        # doc 0/1/2 all start with the same boilerplate chunk
        (0, boiler + " " + uniq(0, 1) + " " + uniq(0, 2)),
        (1, boiler + " " + uniq(1, 1)),
        (2, boiler),                       # nothing but boilerplate
        (3, uniq(3, 1) + " tail short"),   # ragged last chunk, all unique
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           webtext.chunk_dedup(df, chunk_len=20, max_docs=1).collect()}
    # the shared chunk is dropped from ALL docs; order of survivors kept
    assert got[0].clean_text == uniq(0, 1) + " " + uniq(0, 2)
    assert got[0].n_dropped_chunks == 1
    assert got[1].clean_text == uniq(1, 1)
    assert got[2].clean_text == "" and got[2].n_dropped_chunks == 1
    assert got[3].clean_text == uniq(3, 1) + " tail short"
    assert got[3].n_dropped_chunks == 0
    assert got[4].clean_text == "" and got[4].n_dropped_chunks == 0
    # max_docs=2 tolerates pair-wise repeats: nothing dropped for doc 1
    got2 = {r.doc_id: r for r in
            webtext.chunk_dedup(df, chunk_len=20, max_docs=3).collect()}
    assert got2[0].n_dropped_chunks == 0
    assert got2[0].clean_text.startswith(boiler)


def test_chunk_dedup_paragraphs_crafted(spark):
    """Newline paragraph mode (CCNet parity): shared boilerplate matches
    across docs despite casing/punctuation (normalized key), original
    paragraph bytes survive in reassembly, blank paragraphs vanish, and
    newline-free docs fall back to fixed token chunks rejoined with spaces."""
    rows = [
        (0, "Intro zero.\nSHARED BOILERPLATE, here!\n\nUnique tail zero."),
        (1, "Intro one.\nshared boilerplate here\nUnique tail one."),
        # nothing but the boilerplate (and a whitespace-only paragraph)
        (2, "shared... BOILERPLATE here\n   "),
        # newline-free pair sharing their first 4-token chunk -> fallback
        (3, "common first four tokens then tail three"),
        (4, "common first four tokens plus other words"),
        (5, ""),
        # newline-free, both chunks survive: token chunks rejoin with " "
        (6, "alpha beta gamma delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in webtext.chunk_dedup(
        df, chunk_len=4, max_docs=1).collect()}
    # boilerplate dropped from every doc; ORIGINAL paragraph bytes kept
    assert got[0].clean_text == "Intro zero.\nUnique tail zero."
    assert got[0].n_dropped_chunks == 1
    assert got[1].clean_text == "Intro one.\nUnique tail one."
    assert got[1].n_dropped_chunks == 1
    assert got[2].clean_text == "" and got[2].n_dropped_chunks == 1
    # fallback docs: shared first chunk dropped, distinct tails kept
    assert got[3].clean_text == "then tail three"
    assert got[3].n_dropped_chunks == 1
    assert got[4].clean_text == "plus other words"
    assert got[4].n_dropped_chunks == 1
    assert got[5].clean_text == "" and got[5].n_dropped_chunks == 0
    assert got[6].clean_text == "alpha beta gamma delta epsilon zeta"
    assert got[6].n_dropped_chunks == 0
    # alignment robustness — the very reason paragraphs beat fixed windows:
    # shift the boilerplate's token OFFSET in one doc; paragraph mode still
    # catches it (chunk mode would hash different windows)
    rows2 = [(0, "lead in words\nthe exact same boilerplate paragraph"),
             (1, "a much longer different lead\nThe EXACT same "
                 "boilerplate paragraph?")]
    got2 = {r.doc_id: r for r in webtext.chunk_dedup(
        spark.createDataFrame(rows2, "doc_id long, text string"),
        max_docs=1).collect()}
    assert got2[0].n_dropped_chunks == 1
    assert got2[1].n_dropped_chunks == 1
    assert got2[0].clean_text == "lead in words"


def test_chunk_dedup_non_ascii_paragraphs(spark):
    """A paragraph with no ASCII letter or digit normalizes to an empty key;
    it must key on its own text, not collapse with every other such
    paragraph into one corpus-wide "boilerplate" unit."""
    rows = [
        (0, "Intro zero.\n这是第一个段落。\nПривет, мир!"),
        (1, "Intro one.\n完全不同的第二段\nПривет, мир!"),
    ]
    got = {r.doc_id: r for r in webtext.chunk_dedup(
        spark.createDataFrame(rows, "doc_id long, text string"),
        max_docs=1).collect()}
    # distinct CJK paragraphs survive; the repeated Cyrillic one is dropped
    assert got[0].clean_text == "Intro zero.\n这是第一个段落。"
    assert got[1].clean_text == "Intro one.\n完全不同的第二段"
    assert got[0].n_dropped_chunks == 1 and got[1].n_dropped_chunks == 1
