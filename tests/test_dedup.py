"""Dedup / similarity hot-path guarantees: stop-shingle capping, simhash
pigeonhole recall, LSH OR-amplification recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

WORDS = [f"w{i:03d}" for i in range(200)]


@pytest.fixture(scope="module")
def docs(spark):
    """40 docs in 8 near-dup families (5 variants each, one word swapped)
    — every doc also shares one universal stop phrase."""
    rng = np.random.default_rng(5)
    rows = []
    doc_id = 0
    for fam in range(8):
        base = list(rng.choice(WORDS, size=30, replace=False))
        for v in range(5):
            words = base.copy()
            words[3 + v] = f"uniq{fam}x{v}"
            text = "the common preamble phrase " + " ".join(words)
            rows.append((doc_id, text))
            doc_id += 1
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    return spark.createDataFrame(rows, schema).repartition(4).cache()


def _jaccard_oracle(texts, n, cap):
    """pandas/python oracle with the same capped-shingle definition."""
    import itertools

    def shingles(t):
        ws = t.lower().split()
        return set(" ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 1)))

    sets = {i: shingles(t) for i, t in texts}
    df_count = {}
    for s in sets.values():
        for sh in s:
            df_count[sh] = df_count.get(sh, 0) + 1
    capped = {i: {sh for sh in s if df_count[sh] <= cap} for i, s in sets.items()}
    out = {}
    for a, b in itertools.combinations(sorted(capped), 2):
        inter = len(capped[a] & capped[b])
        union = len(capped[a] | capped[b])
        if inter and union:
            out[(a, b)] = inter / union
    return out


def test_ngram_jaccard_cap_matches_oracle(docs):
    from featureengineer_spark.operators.dedup import ngram_jaccard_pairs

    texts = [(r["doc_id"], r["text"]) for r in docs.collect()]
    cap = 10
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.3, max_shingle_df=cap
        ).collect()
    }
    exp = {k: v for k, v in _jaccard_oracle(texts, 3, cap).items() if v >= 0.3}
    assert set(got) == set(exp)
    for k in exp:
        np.testing.assert_allclose(got[k], exp[k], rtol=1e-9)


def test_ngram_jaccard_cap_bounds_pair_space(docs, spark):
    """A universal stop shingle must not quadratically explode the
    candidate set: with the cap, the inverted-index join emits pairs only
    for family-internal shingles (within-family pairs), never the
    40·39/2 all-pairs set."""
    from featureengineer_spark.operators.dedup import _exploded_shingles

    cap = 10
    sh = _exploded_shingles(docs, "doc_id", "text", 3).withColumnRenamed("__sh", "sh")
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    kept = sh.join(dfreq.filter(F.col("df") <= cap), on="sh")
    # candidate join size = Σ_shingle df² over kept shingles
    def join_rows(frame):
        return (
            frame.groupBy("sh").agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"))
            .collect()[0]["pairs"]
        )

    n_docs = docs.count()
    capped_rows = join_rows(kept)
    uncapped_rows = join_rows(sh)
    # the universal stop shingles account for the bulk of the uncapped join
    assert uncapped_rows - capped_rows >= n_docs * (n_docs - 1) / 2
    # no kept shingle exceeds the cap → per-shingle fan-out is bounded
    max_kept = (
        kept.groupBy("sh").agg(F.count("*").alias("c"))
        .agg(F.max("c").alias("m")).collect()[0]["m"]
    )
    assert max_kept <= cap
    # and the stop phrase really is universal in the uncapped index
    max_all = (
        sh.groupBy("sh").agg(F.count("*").alias("c"))
        .agg(F.max("c").alias("m")).collect()[0]["m"]
    )
    assert max_all == n_docs


def test_simhash_near_dups_full_recall(docs):
    """Default blocks=max_hamming+1 must find EVERY pair within the
    radius (verified against the brute-force all-pairs hamming)."""
    from featureengineer_spark.operators.dedup import simhash, simhash_near_dups

    radius = 8
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(docs, max_hamming=radius).collect()
    }
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    exp = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sh[a] ^ sh[b]).count("1")
            if h <= radius:
                exp[(a, b)] = h
    assert got == exp


def test_simhash_near_dups_rejects_unsound_blocks(docs):
    from featureengineer_spark.operators.dedup import simhash_near_dups

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(docs, max_hamming=8, blocks=4)


@pytest.fixture(scope="module")
def clustered_vecs(spark):
    """200 vectors in 20 tight clusters (near-dups within cluster)."""
    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for c in range(20):
        center = rng.standard_normal(16)
        center /= np.linalg.norm(center)
        for _ in range(10):
            v = center + rng.standard_normal(16) * 0.05
            rows.append((vid, v.tolist()))
            vid += 1
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.createDataFrame(rows, schema).repartition(4).cache()


def test_ann_lsh_recall(clustered_vecs):
    """OR-amplified LSH top-k must recall ≥0.9 of the exact top-k."""
    from featureengineer_spark.operators.similarity import ann_topk_lsh, cosine_topk

    queries = clustered_vecs.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(clustered_vecs, queries, k=5)
    approx = ann_topk_lsh(
        clustered_vecs, queries, dim=16, k=5, n_planes=8, n_tables=6
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_embedding_near_dups_lsh_recall(clustered_vecs):
    """Bucketed near-dup path must recover ≥0.9 of the brute-force pairs
    and emit no false positives (exact cosine verified in-bucket)."""
    from featureengineer_spark.operators.dedup import embedding_near_dups

    brute = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            clustered_vecs, threshold=0.99, n_planes=None
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            clustered_vecs, threshold=0.99, n_planes=8, n_tables=6
        ).collect()
    }
    assert lsh <= brute  # in-bucket exact cosine ⇒ no false positives
    assert len(lsh) / len(brute) >= 0.9, (len(lsh), len(brute))


def test_near_dup_clusters_matches_union_find(spark):
    """Min-label propagation must match a plain union-find oracle on a
    random pair graph (chains, triangles, singleton-free)."""
    from featureengineer_spark.operators.dedup import near_dup_clusters

    rng = np.random.default_rng(17)
    n_nodes = 120
    edges = set()
    # chains force multi-hop propagation; random extras add merges
    for start in range(0, 60, 12):
        for i in range(start, start + 11):
            edges.add((i, i + 1))
    for _ in range(80):
        a, b = rng.integers(60, n_nodes, size=2)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in sorted(edges)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {}
    for a, b in edges:
        for v in (a, b):
            exp[v] = find(v)
    # canonicalize oracle roots to min member per component
    comp = {}
    for v, r in exp.items():
        comp.setdefault(r, []).append(v)
    exp_min = {v: min(comp[r]) for v, r in exp.items()}
    assert got == exp_min


def test_minhash_estimates_jaccard(docs):
    """est_jaccard from minhash signature agreement must track the true
    n-gram Jaccard within estimator noise (64 permutations → ±~0.15)."""
    from featureengineer_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    true = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.0, max_shingle_df=None
        ).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(docs, num_perm=64, bands=16, shingle=3).collect()
    }
    checked = 0
    for pair, e in est.items():
        t = true.get(pair, 0.0)
        if t >= 0.5:  # near-dup family pairs — the regime LSH targets
            assert abs(e - t) < 0.2, (pair, e, t)
            checked += 1
    assert checked >= 20  # all 8 families × C(5,2)/... enough coverage


def test_ann_ivf_recall(clustered_vecs):
    """IVF (k-means inverted lists, n_probe exact re-rank) must recall
    ≥0.9 of the exact top-k on the clustered fixture."""
    from featureengineer_spark.operators.similarity import ann_topk_ivf, cosine_topk

    queries = clustered_vecs.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(clustered_vecs, queries, k=5)
    approx = ann_topk_ivf(
        clustered_vecs, queries, k=5, n_lists=12, n_probe=4, kmeans_iter=5
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_kmeans_converges(clustered_vecs):
    """Distributed Lloyd iterations must reduce the quantization error
    and produce k distinct centroids."""
    import numpy as np

    from featureengineer_spark.operators.similarity import train_kmeans

    x = np.array([r["embedding"] for r in clustered_vecs.collect()])

    def qerr(c):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).mean()

    c1 = train_kmeans(clustered_vecs, k=12, n_iter=1)
    c5 = train_kmeans(clustered_vecs, k=12, n_iter=6)
    assert qerr(c5) <= qerr(c1) + 1e-12
    assert len(np.unique(np.round(c5, 6), axis=0)) == 12


def test_near_dup_clusters_long_chain_doubling(spark):
    """Pointer doubling must collapse a 200-node chain well within
    max_iter=12 (plain propagation would need 200 rounds) — and with no
    non-convergence warning."""
    import warnings as _w

    from featureengineer_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with _w.catch_warnings():
        _w.simplefilter("error")
        got = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs, max_iter=12).collect()}
    assert len(got) == 201
    assert set(got.values()) == {0}


def test_similarity_all_pairs_shape_no_broadcast(spark, clustered_vecs):
    """All-pairs-shaped call (queries == corpus): the size guard must not
    FORCE a broadcast of the corpus at itself. With the cost-based
    auto-broadcast disabled, only a hint could produce a
    BroadcastExchange — plan-asserted absent on the guarded path,
    present on the forced path — and both paths return identical rows."""
    from featureengineer_spark.operators.similarity import ann_topk_lsh, cosine_topk

    queries = clustered_vecs.select(F.col("vec_id").alias("query_id"), "embedding")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        guarded = cosine_topk(clustered_vecs, queries, k=3, max_broadcast_rows=50)
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        assert "CartesianProduct" in plan, plan  # block-partitioned exact path
        # broadcast_queries=True now routes to the broadcast-GEMM kernel:
        # no join at all (the broadcast is an sc.broadcast, not a plan
        # node) — one MapInArrow corpus scan + the top-k window
        hinted = cosine_topk(clustered_vecs, queries, k=3, broadcast_queries=True)
        plan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, plan
        assert "CartesianProduct" not in plan, plan
        # identical neighbor sets/ranks; cosines agree to float tolerance
        # (left-fold vs BLAS summation order differs in the last bits)
        import numpy as np

        gp = sorted(map(tuple, guarded.collect()))
        hp = sorted(map(tuple, hinted.collect()))
        assert [r[:3] for r in gp] == [r[:3] for r in hp]
        np.testing.assert_allclose(
            [r[3] for r in gp], [r[3] for r in hp], rtol=1e-12
        )

        lsh_guarded = ann_topk_lsh(
            clustered_vecs, queries, dim=16, k=3, n_planes=8, n_tables=6,
            max_broadcast_rows=50,
        )
        plan = lsh_guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        lsh_hinted = ann_topk_lsh(
            clustered_vecs, queries, dim=16, k=3, n_planes=8, n_tables=6,
            broadcast_queries=True,
        )
        assert sorted(map(tuple, lsh_guarded.collect())) == sorted(
            map(tuple, lsh_hinted.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_near_dedup_filter_keeps_canonicals_and_unpaired(spark):
    """near_dedup_filter = keep min-id per connected component + all
    unpaired docs; verified against a hand-computed closure."""
    from pyspark.sql import functions as F

    from featureengineer_spark.operators.dedup import near_dedup_filter

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    # components: {1,2,3} (chain), {5,7}; 0,4,6,8,9 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 7)], "id_a long, id_b long"
    )
    kept = sorted(r.doc_id for r in near_dedup_filter(docs, pairs).collect())
    assert kept == [0, 1, 4, 5, 6, 8, 9]


def test_small_probe_memoized_one_job(spark, monkeypatch):
    """Auto-broadcast probes are limit-bounded counts memoized per
    (session, plan, cap): two similarity calls over the same query frame
    must fire ONE probe job, and forced broadcast_queries skips it."""
    import featureengineer_spark.operators.similarity as sim

    sim._SMALL_PROBE_CACHE.clear()
    q = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "query_id long, embedding array<double>",
    )
    # patch the CONCRETE DataFrame class (pyspark 4: pyspark.sql.DataFrame
    # is an abstract facade; instances are classic.DataFrame subclasses)
    cls = type(q)
    calls = {"n": 0}
    orig = cls.count

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "count", counting)
    assert sim._fits_rows(q, 100) is True
    first = calls["n"]
    assert sim._fits_rows(q, 100) is True
    assert calls["n"] == first  # memo hit: no second job
    # a different cap is a different contract → new probe
    assert sim._fits_rows(q, 200) is True
    assert calls["n"] == first + 1


def test_cosine_topk_empty_corpus_degrades(spark):
    """GEMM fast path must degrade like the join path on an empty or
    null-vector corpus: empty result, not a TypeError from the dim
    probe."""
    from featureengineer_spark.operators.similarity import cosine_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    nullvec = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(10, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    assert cosine_topk(empty, q, k=3).count() == 0
    assert cosine_topk(nullvec, q, k=3).count() == 0


def test_near_dedup_incremental_equals_global_first_seen(spark):
    """Sequential batch ingest gating (near_dedup_incremental per batch,
    appending band_store after each) must equal one global
    near_dedup_first_seen over the concatenated corpus in arrival order —
    the batch-ingest form of the streaming gate's parity property."""
    from pyspark.sql import functions as F

    from featureengineer_spark.operators.dedup import (
        band_store,
        near_dedup_first_seen,
        near_dedup_incremental,
    )

    base = [
        "the quick brown fox jumps over the lazy dog near the old river bank",
        "spark structured streaming processes unbounded data in incremental micro batches",
        "minhash signatures estimate jaccard similarity between shingled documents quickly",
        "a completely unrelated sentence about alpine weather patterns in early spring",
    ]
    rows = []
    for i in range(24):
        b = base[i % 4]
        if i >= 8 and i % 3 == 0:
            b = b.replace("the", "a", 1) + " extra"
        rows.append((i, b))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_perm=16, bands=8)

    global_kept = {
        r.doc_id for r in near_dedup_first_seen(df, **kw).select("doc_id").collect()
    }

    seen = None
    incremental_kept = set()
    for lo in range(0, 24, 8):
        batch = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 8))
        if seen is None:
            kept = near_dedup_first_seen(batch, **kw)
        else:
            kept = near_dedup_incremental(batch, seen, **kw)
        incremental_kept |= {r.doc_id for r in kept.select("doc_id").collect()}
        bs = band_store(batch, **kw)
        seen = bs if seen is None else seen.unionByName(bs)

    assert incremental_kept == global_kept
    assert 0 < len(global_kept) < 24


def test_near_dedup_filter_keeps_best_scoring_member(spark):
    """score_col selection must keep the highest-quality cluster member
    (ties → lowest id) instead of the min-id default, and unpaired docs
    always pass."""
    from featureengineer_spark.operators.dedup import near_dedup_filter

    docs = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate([0.1, 0.9, 0.5, 0.7, 0.7, 0.3])],
        "doc_id long, quality double",
    )
    # clusters: {0,1,2} and {3,4}; doc 5 unpaired
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    default = {r.doc_id for r in near_dedup_filter(docs, pairs).collect()}
    assert default == {0, 3, 5}  # min-id representatives
    best = {r.doc_id for r in
            near_dedup_filter(docs, pairs, score_col="quality").collect()}
    # cluster {0,1,2}: max quality 0.9 → doc 1; {3,4}: tie 0.7 → lowest id 3
    assert best == {1, 3, 5}


def test_ngram_containment_catches_subset_docs(spark):
    """A short doc fully embedded in a long one must clear the
    containment gate even though its Jaccard is low, and the directional
    values must match the python set oracle."""
    from featureengineer_spark.operators.dedup import ngram_containment_pairs

    long_words = [f"w{i}" for i in range(40)]
    short_words = long_words[10:18]  # strict subset
    other = [f"z{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(0, " ".join(long_words)), (1, " ".join(short_words)), (2, " ".join(other))],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): r for r in
           ngram_containment_pairs(docs, n=3, threshold=0.8).collect()}
    assert set(got) == {(0, 1)}
    def sh(ws):
        return {" ".join(ws[i:i+3]) for i in range(max(len(ws)-2, 1))}
    A, B = sh(long_words), sh(short_words)
    inter = len(A & B)
    r = got[(0, 1)]
    assert abs(r.containment_a - inter/len(A)) < 1e-12
    assert abs(r.containment_b - inter/len(B)) < 1e-12  # == 1.0
    assert r.containment_b == 1.0
    assert r.jaccard < 0.8  # Jaccard alone would have missed it


def test_dedup_conversations_keeps_min_entity(spark):
    from featureengineer_spark.operators.dedup import dedup_conversations

    rows = []
    for conv, base in (("c1", 0), ("c3", 0), ("c2", 1)):  # c3 == c1 re-ingested
        for i in range(3):
            rows.append((conv, i, "user" if i % 2 == 0 else "assistant",
                         f"turn {base} {i}"))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    kept = dedup_conversations(df.repartition(5))
    assert {r.conv_id for r in kept.select("conv_id").distinct().collect()} == {"c1", "c2"}
    assert kept.count() == 6  # full turn rows of survivors


def test_ivf_index_persist_search_matches_inmemory(spark, clustered_vecs, tmp_path):
    """A persisted IVF index must (a) return exactly the in-memory
    ann_topk_ivf results under the same centroids, and (b) prune the
    store scan to the probed list partitions (PartitionFilters on
    list_id in the executed plan)."""
    from featureengineer_spark.operators.similarity import (
        ann_topk_ivf,
        build_ivf_index,
        search_ivf_index,
    )

    path = str(tmp_path / "ivf_index")
    cents = build_ivf_index(clustered_vecs, path, n_lists=8, seed=3)
    queries = clustered_vecs.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = search_ivf_index(spark, path, queries, k=5, n_probe=2)
    exp = ann_topk_ivf(
        clustered_vecs, queries, k=5, n_lists=8, n_probe=2, centroids=cents,
        broadcast_queries=False,  # force the join path: same candidate set shape
    )
    g = {(r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9)) for r in got.collect()}
    e = {(r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9)) for r in exp.collect()}
    assert g == e
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan, plan


def test_search_ivf_index_single_assignment_job(spark, clustered_vecs, tmp_path, monkeypatch):
    """The query-side probe assignment materializes exactly ONCE at
    construction (one toPandas that yields both the probed-list partition
    filter and the broadcast query frame) — no separate
    distinct().collect() job, no probe-UDF recompute in the join."""
    import featureengineer_spark.operators.similarity as sim
    from featureengineer_spark.operators.similarity import (
        build_ivf_index,
        search_ivf_index,
    )

    path = str(tmp_path / "ivf_sj")
    build_ivf_index(clustered_vecs, path, n_lists=8, seed=3)
    queries = clustered_vecs.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sim._SMALL_PROBE_CACHE.clear()
    cls = type(queries)
    calls = {"toPandas": 0, "collect": 0}
    orig_tp, orig_co = cls.toPandas, cls.collect

    def counting_tp(self):
        calls["toPandas"] += 1
        return orig_tp(self)

    def counting_co(self):
        calls["collect"] += 1
        return orig_co(self)

    monkeypatch.setattr(cls, "toPandas", counting_tp)
    monkeypatch.setattr(cls, "collect", counting_co)
    res = search_ivf_index(spark, path, queries, k=5, n_probe=2)
    assert calls == {"toPandas": 1, "collect": 0}
    monkeypatch.undo()
    assert res.count() > 0
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan, plan



def test_ivf_index_records_float_vector_type(spark, clustered_vecs, tmp_path):
    """An ``array<float>`` corpus must be indexed with its real vector
    type in the recorded read schema, and searching the persisted index
    must return exactly the in-memory results for the same corpus."""
    import json

    from featureengineer_spark.operators.similarity import (
        ann_topk_ivf,
        build_ivf_index,
        search_ivf_index,
    )

    corpus = clustered_vecs.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    path = str(tmp_path / "ivf_float")
    cents = build_ivf_index(corpus, path, n_lists=8, seed=3)
    with open(f"{path}/_ivf_meta.json") as f:
        assert "`embedding` array<float>" in json.load(f)["schema_ddl"]
    queries = corpus.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = search_ivf_index(spark, path, queries, k=5, n_probe=2)
    exp = ann_topk_ivf(
        corpus, queries, k=5, n_lists=8, n_probe=2, centroids=cents,
        broadcast_queries=False,
    )
    g = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in got.collect()}
    e = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in exp.collect()}
    assert g and g.keys() == e.keys()
    # float32 sums differ in the last bits between the two kernels
    for key, (nid, cos) in g.items():
        assert nid == e[key][0] and abs(cos - e[key][1]) < 1e-5, (key, g[key], e[key])

def test_normalize_text_split_form_equals_regex_form(spark):
    """normalize_text was reformulated from two regexp_replace passes to
    split+filter+array_join (24x faster on the measured 60 MB corpus);
    the output string must be byte-identical for every input — it feeds
    md5/xxhash64 fingerprints that oracle-checked queries pin."""
    from featureengineer_spark.operators.dedup import _norm_words, normalize_text

    cases = [
        "",
        " ",
        "\t\n\x0b\f\r",
        "...",
        "a",
        "A",
        "  leading and trailing  ",
        "Hello, World! 123",
        "tabs\tand\nnewlines\x0bvertical\ftabs\rcarriage",
        "punct!@#$%^&*()_+-=[]{}|;':\",./<>?~`runs",
        "UPPER lower MiXeD 0123456789",
        "unicode  nbsp  emsp café straße 中文",
        "emoji \U0001f600 mixed2text",
        "a  b   c    d",
        "1.5e-3 numbers-with.portions",
        "ünïcödé àccénts",
        None,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    legacy = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    rows = df.select(
        F.col("text"),
        legacy.alias("old"),
        normalize_text(F.col("text")).alias("new"),
        F.split(legacy, " ").alias("old_words"),
        _norm_words(F.col("text")).alias("new_words"),
    ).collect()
    for r in rows:
        assert r["old"] == r["new"], (r["text"], r["old"], r["new"])
        # word arrays agree up to the [''] empty-doc artifact
        old_w = [w for w in (r["old_words"] or []) if w != ""]
        assert old_w == (r["new_words"] if r["new_words"] is not None else []), r["text"]


def test_minhash_lsh_candidates_string_and_null_ids(spark):
    """The Arrow pair kernel must preserve the SQL join semantics for
    non-numeric ids (string ordering = UTF-8 byte order) and for null
    ids (never paired, like the join's NULL-filtered strict inequality).
    Oracle: a brute-force replay of banding + pairing in Python."""
    import itertools

    from featureengineer_spark.operators.dedup import (
        _banded_rows,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    rows = [
        ("docB", "alpha beta gamma delta epsilon zeta eta theta"),
        ("docA", "alpha beta gamma delta epsilon zeta eta theta"),
        ("docC", "alpha beta gamma delta epsilon zeta eta iota"),
        (None, "alpha beta gamma delta epsilon zeta eta theta"),
        ("docD", "totally different words only here present now"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["n_shared_bands"], r["est_jaccard"])
        for r in minhash_lsh_candidates(df, num_perm=16, bands=4).collect()
    }
    sig = {
        r["doc_id"]: r["minhash"]
        for r in minhash_signatures(df, num_perm=16).collect()
        if r["doc_id"] is not None
    }
    band = {}
    for r in _banded_rows(
        minhash_signatures(df, num_perm=16), "doc_id", 16, 4, "xxhash64"
    ).collect():
        if r["doc_id"] is not None:
            band.setdefault(r["doc_id"], []).append((r["band_idx"], r["band_hash"]))
    want = {}
    for x, y in itertools.combinations(sorted(sig), 2):
        shared = len(set(band[x]) & set(band[y]))
        if shared:
            m = sum(1 for p, q in zip(sig[x], sig[y]) if p == q)
            want[(x, y)] = (shared, m / 16.0)
    assert got == want
    assert all(a is not None and b is not None for a, b in got)


def test_minhash_lsh_candidates_giant_bucket_blocked_path(spark):
    """A giant LSH bucket (mass-identical documents) must stream through
    the kernel's bounded pair blocks, not materialize all k(k-1)/2 pairs
    at once. Force tiny blocks (pair_block=7) so both the batched-small
    and the anchor-row-streaming giant path run, and require output
    identical to the unblocked default."""
    from pyspark.sql import functions as F2

    from featureengineer_spark.operators.dedup import minhash_lsh_candidates

    # 40 identical docs (one bucket of 40 in every band: p=780 >> 7),
    # plus a family of 3 near-identical and some distinct filler
    docs = spark.range(40).select(
        F2.col("id").alias("doc_id"),
        F2.lit("alpha beta gamma delta epsilon zeta eta theta iota kappa").alias("text"),
    )
    fam = spark.range(40, 43).select(
        F2.col("id").alias("doc_id"),
        F2.concat(
            F2.lit("lambda mu nu xi omicron pi rho sigma tau upsilon tail"),
            F2.col("id").cast("string"),
        ).alias("text"),
    )
    filler = spark.range(50, 60).select(
        F2.col("id").alias("doc_id"),
        F2.concat(F2.lit("unique words only here for doc number "),
                  F2.col("id").cast("string"),
                  F2.lit(" nothing shared beyond stopwords")).alias("text"),
    )
    df = docs.unionByName(fam).unionByName(filler)
    base = minhash_lsh_candidates(df, num_perm=16, bands=4)
    blocked = minhash_lsh_candidates(df, num_perm=16, bands=4, pair_block=7)
    assert base.exceptAll(blocked).count() == 0
    assert blocked.exceptAll(base).count() == 0
    # the identical family alone contributes 40*39/2 pairs
    assert base.count() >= 780



def test_pair_kernel_zero_row_batches():
    """The shared in-bucket pair kernel must emit nothing, not raise,
    when a partition hands it only zero-row Arrow batches (or none) —
    with a list payload and a score, and with neither."""
    import pyarrow as pa

    from featureengineer_spark.operators.dedup import _match_count, _pair_kernel

    empty = pa.RecordBatch.from_arrays(
        [
            pa.array([], pa.int64()),
            pa.array([], pa.int32()),
            pa.array([], pa.int64()),
            pa.array([], pa.list_(pa.int32())),
        ],
        names=["doc_id", "band_idx", "band_hash", "minhash"],
    )
    kernel = _pair_kernel(2, _match_count)
    assert list(kernel(iter([empty, empty]))) == []
    assert list(kernel(iter([]))) == []
    bare = pa.RecordBatch.from_arrays(
        [pa.array([], pa.string()), pa.array([], pa.string())],
        names=["doc_id", "__sh"],
    )
    assert list(_pair_kernel(1)(iter([bare]))) == []


def test_minhash_plan_build_round_trips_flat_in_num_perm(spark, monkeypatch):
    """Building the MinHash + banding plan costs driver->JVM round trips
    that do not grow with num_perm: the streaming gate rebuilds this plan
    on every micro-batch, and a Column object per permutation cost
    thousands of Py4J commands (~0.8 s) before any data moved. Counts the
    gateway client's commands while only the plan is built — no job runs."""
    from py4j import protocol

    from featureengineer_spark.operators.dedup import _banded_rows, minhash_signatures

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g"), (3, None)], "doc_id long, text string"
    )
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    sent = {"n": 0}

    def counting(command, *args, **kwargs):
        # object-release commands follow Python's GC, not the plan build
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent["n"] += 1
        return orig(command, *args, **kwargs)

    def trips(num_perm):
        sent["n"] = 0
        _banded_rows(
            minhash_signatures(df, num_perm=num_perm), "doc_id", num_perm, 8, "xxhash64"
        )
        return sent["n"]

    monkeypatch.setattr(client, "send_command", counting)
    trips(16)  # one-off lookups (class and function resolution)
    small, large = trips(16), trips(128)
    assert large <= small + 8, (small, large)


def test_hyperplane_plan_build_round_trips_flat_in_dim(spark, monkeypatch):
    """Building the hyperplane-LSH bucketing plan costs driver->JVM round
    trips that do not grow with the vector dimension, planes or tables:
    a Column per plane coefficient cost ~16k Py4J commands (2-3 s) per
    ``hyperplane_tables`` build at dim 64 x 8 planes x 6 tables, paid by
    every embedding_near_dups call and twice by ann_topk_lsh."""
    from py4j import protocol

    from featureengineer_spark.operators.similarity import hyperplane_tables

    df = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    sent = {"n": 0}

    def counting(command, *args, **kwargs):
        # object-release commands follow Python's GC, not the plan build
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent["n"] += 1
        return orig(command, *args, **kwargs)

    def trips(dim, n_planes, n_tables):
        sent["n"] = 0
        hyperplane_tables(df, dim, n_planes, n_tables)
        return sent["n"]

    monkeypatch.setattr(client, "send_command", counting)
    trips(4, 2, 1)  # one-off lookups (class and function resolution)
    small, large = trips(4, 2, 1), trips(64, 8, 6)
    assert large <= small + 8, (small, large)


def test_embedding_near_dups_edge_inputs(spark):
    """No vector at all gives an empty result with the usual schema, and
    a NULL (or zero) first vector does not hide the dimension: both
    paths then score the remaining vectors exactly as without it."""
    from featureengineer_spark.operators.dedup import embedding_near_dups

    schema = "vec_id long, embedding array<double>"
    empty = embedding_near_dups(spark.createDataFrame([], schema))
    assert empty.collect() == []
    assert empty.schema.simpleString() == "struct<id_a:bigint,id_b:bigint,cosine:double>"
    nulls = spark.createDataFrame([(1, None), (2, [0.0, 0.0])], schema)
    assert embedding_near_dups(nulls).collect() == []

    good = [(3, [1.0, 0.0, 0.5]), (4, [1.0, 0.01, 0.5]), (5, [0.0, 1.0, 0.0])]
    ref = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dups(
            spark.createDataFrame(good, schema), threshold=0.9, n_planes=None
        ).collect()
    }
    assert list(ref) == [(3, 4)]
    df = spark.createDataFrame([(1, None), (2, [0.0, 0.0, 0.0]), *good], schema).coalesce(1)
    for n_planes in (None, 8):
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_near_dups(df, threshold=0.9, n_planes=n_planes).collect()
        }
        assert got == ref, n_planes


# Edge documents for the pinned signatures: empty, punctuation only,
# fewer words than either shingle size, NULL text, non-ASCII, normal.
PINNED_DOCS = [
    (1, ""),
    (2, "!!! ??? ... --- ;; ()"),
    (3, "Hello, world"),
    (4, None),
    (5, "Ça c'est très naïve: 東京タワー façade résumé coöperate déjà vu über Straße 2024"),
    (6, "The quick brown fox jumps over the lazy dog while the old cat sleeps by the fire"),
]


@pytest.mark.parametrize(
    "hash_fn,num_perm,bands,shingle",
    [(h, *cfg) for h in ("xxhash64", "md5") for cfg in ((64, 16, 3), (16, 8, 5))],
)
def test_minhash_signatures_and_bands_pinned(spark, hash_fn, num_perm, bands, shingle):
    """Signatures and band rows are pinned to literals captured from the
    per-permutation Column formulation, so any re-formulation of the
    plan must stay bit-identical (the band store written by earlier
    gate runs is probed with these hashes). Docs without a shingle —
    empty, punctuation-only, NULL — get no signature and no band row."""
    import json
    import os

    from featureengineer_spark.operators.dedup import _banded_rows, minhash_signatures

    path = os.path.join(os.path.dirname(__file__), "data", "minhash_pinned.json")
    with open(path) as f:
        want = json.load(f)[f"{hash_fn}/{num_perm}/{bands}/{shingle}"]
    df = spark.createDataFrame(PINNED_DOCS, "doc_id long, text string")
    sig = minhash_signatures(df, num_perm=num_perm, shingle=shingle, hash_fn=hash_fn)
    got_sig = {str(r.doc_id): list(r.minhash) for r in sig.collect()}
    assert got_sig == want["minhash"]
    got_bands = sorted(
        list(r) for r in _banded_rows(sig, "doc_id", num_perm, bands, hash_fn).collect()
    )
    assert got_bands == want["band_rows"]


# ---------------------------------------------------------------------------
# The in-bucket pair kernel behind every near-dup pair generator, checked
# against brute-force Python oracles on one small corpus.

PAIR_WORDS = [f"v{i:03d}" for i in range(300)]
PREAMBLE = "common preamble words here "


@pytest.fixture(scope="module")
def pair_corpus(spark):
    """76 rows: 8 near-dup families of 5 under string ids whose UTF-8
    byte order differs from UTF-16 order ("\\uffe0…" < "\\U0001F600…"),
    two duplicate ids (a second row with another family's text and
    vector), two NULL-id copies of paired rows, an empty and a NULL
    document (zero and NULL vectors), a preamble shared by every text
    (capped stop shingles, hot prints) and 30 identical documents — one
    giant bucket in every generator."""
    rng = np.random.default_rng(23)
    rows = []
    prefixes = ["a", "Z", "é", "￠", "\U0001F600", "m", "中", "0"]
    for fam, pre in enumerate(prefixes):
        base = list(rng.choice(PAIR_WORDS, size=24, replace=False))
        center = rng.standard_normal(16)
        for v in range(5):
            words = base.copy()
            words[2 + 3 * v] = f"x{fam}y{v}"
            vec = (center + rng.standard_normal(16) * 0.05).tolist()
            rows.append((f"{pre}{v}", PREAMBLE + " ".join(words), vec))
    giant_text = PREAMBLE + " ".join(rng.choice(PAIR_WORDS, size=20))
    giant_vec = rng.standard_normal(16).tolist()
    rows += [(f"g{i:02d}", giant_text, giant_vec) for i in range(30)]
    rows += [("a1", rows[7][1], rows[7][2]), ("m3", rows[12][1], rows[12][2])]
    rows += [(None, rows[0][1], rows[0][2]), (None, giant_text, giant_vec)]
    rows += [("e0", "", [0.0] * 16), ("e1", None, None)]
    schema = "doc_id string, text string, embedding array<double>"
    return spark.createDataFrame(rows, schema).repartition(3).cache()


def _row_pairs(groups, max_group=None):
    """Count (id_a < id_b) row pairs over groups of ids, as the kernel does
    for one bucket each: equal ids never pair."""
    import itertools
    from collections import Counter

    out = Counter()
    for ids in groups:
        if max_group is not None and len(ids) > max_group:
            continue
        for x, y in itertools.combinations(ids, 2):
            if x != y:
                out[(min(x, y), max(x, y))] += 1
    return out


def _simhash_case(corpus):
    from featureengineer_spark.operators.dedup import simhash, simhash_near_dups

    sig = {r.doc_id: r.simhash for r in simhash(corpus).collect() if r.doc_id}
    want = {}
    for key in _row_pairs([sorted(sig)]):
        h = bin(sig[key[0]] ^ sig[key[1]]).count("1")
        if h <= 8:
            want[key] = (h,)
    return lambda: simhash_near_dups(corpus, max_hamming=8), want, 0.0


def _shingle_overlap_oracle(corpus, cap):
    from collections import Counter, defaultdict

    from featureengineer_spark.operators.dedup import _exploded_shingles

    rows = [(r[0], r[1]) for r in _exploded_shingles(corpus, "doc_id", "text", 3).collect()]
    dfreq = Counter(s for _, s in rows)
    kept = [(i, s) for i, s in rows if dfreq[s] <= cap and i is not None]
    size = Counter(i for i, _ in kept)
    by_sh = defaultdict(list)
    for i, s in kept:
        by_sh[s].append(i)
    return _row_pairs(by_sh.values()), size


def _jaccard_case(corpus):
    from featureengineer_spark.operators.dedup import ngram_jaccard_pairs

    inter, size = _shingle_overlap_oracle(corpus, 60)
    want = {}
    for (a, b), i in inter.items():
        j = i / (size[a] + size[b] - i)
        if j >= 0.3:
            want[(a, b)] = (j,)
    return (
        lambda: ngram_jaccard_pairs(corpus, n=3, threshold=0.3, max_shingle_df=60),
        want,
        0.0,
    )


def _containment_case(corpus):
    from featureengineer_spark.operators.dedup import ngram_containment_pairs

    inter, size = _shingle_overlap_oracle(corpus, 60)
    want = {}
    for (a, b), i in inter.items():
        ca, cb = i / size[a], i / size[b]
        if max(ca, cb) >= 0.5:
            want[(a, b)] = (ca, cb, i / (size[a] + size[b] - i))
    return (
        lambda: ngram_containment_pairs(corpus, n=3, threshold=0.5, max_shingle_df=60),
        want,
        0.0,
    )


def _embedding_case(corpus):
    import itertools
    import math

    from featureengineer_spark.operators.dedup import embedding_near_dups

    def fold(x, y):
        acc = 0.0
        for p, q in zip(x, y):
            acc += p * q
        return acc

    vecs = [
        (r.doc_id, list(r.embedding), math.sqrt(fold(r.embedding, r.embedding)))
        for r in corpus.collect()
        if r.doc_id is not None and r.embedding is not None
    ]
    want = {}
    for (x, vx, nx), (y, vy, ny) in itertools.combinations(vecs, 2):
        if x == y or nx == 0 or ny == 0:
            continue
        cos = fold(vx, vy) / (nx * ny)
        key = (min(x, y), max(x, y))
        if cos >= 0.9 and cos > want.get(key, (-2.0,))[0]:
            want[key] = (cos,)
    return (
        lambda: embedding_near_dups(
            corpus, id_col="doc_id", threshold=0.9, n_planes=None
        ),
        want,
        0.0,
    )


def _winnow_case(corpus):
    from collections import Counter, defaultdict

    from featureengineer_spark.operators.winnow import winnow_fingerprints, winnow_pairs

    fps = {
        (r.doc_id, r.fp_hash)
        for r in winnow_fingerprints(corpus, k=3, w=4).collect()
        if r.doc_id is not None
    }
    size = Counter(i for i, _ in fps)
    by_hash = defaultdict(list)
    for i, h in fps:
        by_hash[h].append(i)
    want = {
        (a, b): (n, n / min(size[a], size[b]))
        for (a, b), n in _row_pairs(by_hash.values(), max_group=40).items()
        if n >= 2
    }
    return (
        lambda: winnow_pairs(corpus, k=3, w=4, min_shared=2, max_df=40),
        want,
        5e-7,  # overlap is rounded to 6 places
    )


def test_simhash_near_dups_radius_zero(pair_corpus):
    """max_hamming=0 (one 64-bit block) pairs exactly the equal
    signatures; its all-ones chunk mask used to overflow BIGINT."""
    from featureengineer_spark.operators.dedup import simhash, simhash_near_dups

    sig = {r.doc_id: r.simhash for r in simhash(pair_corpus).collect() if r.doc_id}
    want = {(a, b, 0) for a, b in _row_pairs([sorted(sig)]) if sig[a] == sig[b]}
    got = {tuple(r) for r in simhash_near_dups(pair_corpus, max_hamming=0).collect()}
    assert got == want and len(want) >= 435


@pytest.mark.parametrize(
    "case",
    [_simhash_case, _jaccard_case, _containment_case, _embedding_case, _winnow_case],
    ids=["simhash", "ngram_jaccard", "ngram_containment", "embedding", "winnow"],
)
def test_pair_generators_match_bruteforce_oracle(pair_corpus, monkeypatch, case):
    """Every generator on the shared in-bucket pair kernel equals its
    brute-force Python oracle — pair set, orientation (id_a < id_b in
    UTF-8 byte order), NULL ids never paired, equal ids never paired,
    duplicate-id rows counted like the SQL join counted them — both with
    the default block budget and with a budget small enough that the
    giant bucket streams through the blocked path."""
    from featureengineer_spark.operators import dedup

    build, want, atol = case(pair_corpus)
    assert ("g00", "g29") in want and len(want) > 435
    for budget in (None, 4096):
        if budget is not None:
            monkeypatch.setattr(dedup, "_PAIR_BLOCK", budget)
        got = {(r[0], r[1]): tuple(r[2:]) for r in build().collect()}
        assert got.keys() == want.keys(), (budget, got.keys() ^ want.keys())
        for key, vals in want.items():
            np.testing.assert_allclose(got[key], vals, rtol=1e-12, atol=atol)
