"""Similarity search over embedding columns (``array<float>``).

The reference scores enroll×test i-vector pairs with cosine /
mahalanobis kernels over a trial mask (``IVector.py:1324-1390``,
``jyh/Utils.py:393-404`` pairwise euclidean). Here: top-k cosine
neighbors over an embedding corpus — brute force as the exactness
baseline, random-hyperplane LSH bucketing as the scale path (bounds the
pair space the way the reference's ndx trial mask bounds scoring pairs).

Dot products are pure JVM higher-order functions (``zip_with`` +
``aggregate``) — no Python in the pair loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


#: rows above which the query side is no longer broadcast by default —
#: at 64-dim float64 vectors this caps the broadcast at ~50 MB plus ids.
DEFAULT_MAX_BROADCAST_ROWS = 100_000


#: session-lifetime memo for the small-side probes below:
#: (session token, plan semanticHash, cap) → bool. N similarity calls
#: over the same query table fire ONE limit-bounded count job, not N —
#: the same discipline as ``skew._HEAVY_PROBE_CACHE``. Keys on the
#: logical plan via ``session.probe_token`` (stable — never reused
#: after a session is garbage-collected, unlike ``id()``); pass
#: ``broadcast_queries=True/False`` explicitly for a table whose files
#: mutate mid-session.
_SMALL_PROBE_CACHE: dict[tuple, bool] = {}
_SMALL_PROBE_CACHE_MAX = 256


def _fits_rows(df: DataFrame, cap: int) -> bool:
    """Memoized limit-bounded row-count probe: True iff ``df`` has at
    most ``cap`` rows. Reads at most ``cap``+1 rows, never a full scan;
    one job per (session, plan, cap) for the session's lifetime."""
    from featureengineer_spark.session import probe_token

    ck = (probe_token(df.sparkSession), df.semanticHash(), int(cap))
    if ck in _SMALL_PROBE_CACHE:
        return _SMALL_PROBE_CACHE[ck]
    out = df.limit(cap + 1).count() <= cap
    if len(_SMALL_PROBE_CACHE) >= _SMALL_PROBE_CACHE_MAX:
        _SMALL_PROBE_CACHE.pop(next(iter(_SMALL_PROBE_CACHE)))
    _SMALL_PROBE_CACHE[ck] = out
    return out


def _broadcast_if_small(
    q: DataFrame,
    broadcast: bool | None,
    max_rows: int,
    count_on: DataFrame | None = None,
    fanout: int = 1,
) -> DataFrame:
    """Broadcast-hint the probe side only when it is actually small.

    The probe-style contract (|Q| ≪ |C|) wants a broadcast; an
    all-pairs-shaped call (Q = corpus, e.g. full-corpus ANN dedup) must
    NOT broadcast the corpus at itself. ``broadcast=None`` decides with
    a limit-bounded count — an EAGER Spark job at plan-construction time
    that reads at most ``max_rows``+1 rows, never a full scan of a huge
    query side, memoized per (session, plan, cap) via ``_fits_rows``;
    pass True/False to force and skip the probe job.
    ``count_on`` lets the caller supply a cheaper frame to count (e.g.
    the raw query table before a UDF/explode projection) together with a
    per-row ``fanout`` multiplier, so the probe job never executes the
    expensive projection."""
    if broadcast is None:
        probe = q if count_on is None else count_on
        cap = max(max_rows // max(fanout, 1), 1)
        broadcast = _fits_rows(probe, cap)
    return F.broadcast(q) if broadcast else q


def _norm(vec_col: str) -> F.Column:
    return F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a: F.Column | str, b: F.Column | str) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool | None = None,
    max_broadcast_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each query vector.

    queries: (query_id, embedding). Self-matches (same id) are excluded.
    Tie-break: higher cosine first, then lower neighbor id — fully
    deterministic. The corpus side stays as-is; a small query side
    (≤ ``max_broadcast_rows``) is broadcast so the |Q|×|C| pair space is
    scanned in one pass with no shuffle before the per-query top-k. An
    all-pairs-shaped call (queries ≈ corpus) instead runs as a
    block-partitioned cartesian — |C|-partitions × |Q|-partitions tasks,
    nothing collected or broadcast — which is the honest cost of exact
    all-pairs; prefer ``ann_topk_lsh`` / ``ann_topk_ivf`` at that shape.

    When the query side fits the broadcast budget, the scan runs on the
    broadcast-GEMM kernel (one corpus pass, per-batch BLAS block +
    exact partial top-k — shared with ``ann_topk_ivf``, degenerate
    single-list quantizer): identical results, no |C|×|Q| join rows.
    """
    use_gemm = broadcast_queries
    if use_gemm is None:
        use_gemm = _fits_rows(queries, max_broadcast_rows)
    if use_gemm:
        # dim probe doubles as the empty/null-corpus guard: the join path
        # returns an empty result for these inputs, so the GEMM path must
        # degrade the same way, not raise on first()[0].
        row = corpus.select(vec_col).first()
        if row is None or row[0] is None:
            use_gemm = False
        else:
            return _ann_ivf_gemm(
                corpus, queries, np.zeros((1, len(row[0]))), k, 1,
                id_col, vec_col, query_id_col,
            )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(vec_col).alias("__cn"),
    ).filter(F.col("__cn") > 0)
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        _norm(vec_col).alias("__qn"),
    ).filter(F.col("__qn") > 0)
    q = _broadcast_if_small(q, broadcast_queries, max_broadcast_rows)
    pairs = c.crossJoin(q).filter(F.col("neighbor_id") != F.col(query_id_col))
    scored = pairs.select(
        query_id_col,
        "neighbor_id",
        (_dot("__cv", "__qv") / (F.col("__cn") * F.col("__qn"))).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cosine")
    )


def hyperplane_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane (SRP) LSH bucket id per vector.

    The hyperplane matrix is tiny and embedded as literal arrays —
    evaluated JVM-side per row (no Python, no broadcast needed). Two
    vectors share a bucket iff they agree on the sign of all ``n_planes``
    projections; collision probability rises with cosine similarity.
    """
    return df.withColumn(out_col, F.expr(_signature_sql(dim, n_planes, vec_col, seed)))


def _signature_sql(dim: int, n_planes: int, vec_col: str, seed: int) -> str:
    """SQL for the SRP bucket id: bit i set iff the plane-i dot product
    (a left fold from 0.0 over the element products, as ``_dot``) is
    ≥ 0; a NULL dot leaves the bit clear. One parsed expression with the
    coefficients as DOUBLE literals (``repr`` round-trips every double
    exactly), not a Column per coefficient: those cost ~16k driver->JVM
    round trips per ``hyperplane_tables`` build at dim 64 x 48 planes."""
    planes = np.random.default_rng(seed).standard_normal((n_planes, dim))
    bits = []
    for i, plane in enumerate(planes):
        coeffs = ", ".join(f"{float(v)!r}D" for v in plane)
        dot = (
            f"aggregate(zip_with(`{vec_col}`, array({coeffs}), (x, y) -> x * y),"
            " 0D, (acc, x) -> acc + x)"
        )
        bits.append(f"CASE WHEN {dot} >= 0 THEN {1 << i}L ELSE 0L END")
    return " + ".join(["0L", *bits])


def train_kmeans(
    df: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    vec_col: str = "embedding",
    seed: int = 0,
) -> np.ndarray:
    """Distributed Lloyd k-means → (k, d) centroids.

    Same executor/driver split as ``em.train_gmm``: each TASK emits one
    partial row (per-centroid count + sum after hard nearest assignment,
    accumulated across its Arrow batches), partials reduce IN-CLUSTER,
    the driver recomputes centroids and re-broadcasts. Init =
    deterministic hash-sampled rows. Empty clusters keep their previous
    centroid (deterministic).
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    from featureengineer_spark.operators.em import reduce_partials

    sc = df.sparkSession.sparkContext
    d = len(df.select(vec_col).first()[0])
    vecs = df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
    # deterministic init: first k distinct rows by xxhash64 order
    init_rows = (
        vecs.withColumn("__h", F.xxhash64(F.to_json(F.col(vec_col)), F.lit(seed)))
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    centroids = np.array([r[vec_col] for r in init_rows])
    if centroids.shape[0] < k:
        raise ValueError(f"need >= {k} rows to seed {k} centroids")

    schema = T.StructType(
        [
            T.StructField("n", T.ArrayType(T.DoubleType())),
            T.StructField("s", T.ArrayType(T.DoubleType())),
        ]
    )
    for _ in range(n_iter):
        b_c = sc.broadcast(centroids)

        def partials(batches):
            c = b_c.value
            cn2 = (c * c).sum(axis=1)
            n_part = np.zeros(k)
            s_part = np.zeros((k, d))
            seen = False
            for batch in batches:
                x = batch.column(0).flatten().to_numpy(zero_copy_only=False).reshape(-1, d)
                assign = np.argmin(cn2 - 2.0 * (x @ c.T), axis=1)
                n_part += np.bincount(assign, minlength=k).astype(np.float64)
                np.add.at(s_part, assign, x)
                seen = True
            if not seen:
                return
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([n_part.tolist()], type=pa.list_(pa.float64())),
                    pa.array([s_part.ravel().tolist()], type=pa.list_(pa.float64())),
                ],
                names=["n", "s"],
            )

        parts = reduce_partials(
            vecs.mapInArrow(partials, schema=schema), {"n": k, "s": k * d}
        )
        n = parts["n"]
        s = parts["s"].reshape(k, d)
        nonempty = n > 0
        new_c = centroids.copy()
        new_c[nonempty] = s[nonempty] / n[nonempty, None]
        centroids = new_c
    return centroids


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 3,
    kmeans_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 0,
    centroids: np.ndarray | None = None,
    broadcast_queries: bool | None = None,
    max_broadcast_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """IVF approximate top-k: a k-means coarse quantizer partitions the
    corpus into ``n_lists`` inverted lists; each query exactly scans only
    its ``n_probe`` nearest lists. The candidate join is an equi join on
    ``list_id`` — expected cost |Q|·|C|·(n_probe/n_lists) — and the final
    ranking is exact cosine within the probed lists. The alternative
    scale path to ``ann_topk_lsh`` (recall degrades gracefully with
    ``n_probe`` instead of with hash width). A query side past
    ``max_broadcast_rows`` joins as a plain shuffle equi join on
    ``list_id`` instead of being broadcast."""
    if centroids is None:
        centroids = train_kmeans(
            corpus.select(F.col(vec_col)), k=n_lists, n_iter=kmeans_iter,
            vec_col=vec_col, seed=seed,
        )
    sc = corpus.sparkSession.sparkContext

    # GEMM fast path: when the query side fits the broadcast budget, ship
    # the query matrix (plus its probe lists) as one numpy broadcast and
    # scan the corpus ONCE with mapInArrow — assignment, candidate
    # masking, cosine, and a per-batch partial top-k all run as BLAS
    # matrix products instead of a per-element zip_with fold over ~|C|·
    # |Q|·n_probe/n_lists join rows (measured ~5× on 100k×2k×64d). The
    # partial top-k keeps the exact (cosine desc, neighbor_id asc) tie
    # discipline, so the final window over ≤ #batches·|Q|·k rows returns
    # the identical top-k the join path does.
    use_gemm = broadcast_queries
    if use_gemm is None:
        use_gemm = queries.limit(max_broadcast_rows + 1).count() <= max_broadcast_rows
    if use_gemm:
        return _ann_ivf_gemm(
            corpus, queries, centroids, k, n_probe,
            id_col, vec_col, query_id_col,
        )

    b_c = sc.broadcast(centroids)

    def _assign_udf(n_top: int):
        import pandas as pd
        from pyspark.sql import types as T

        def fn(v):
            c = b_c.value
            x = np.vstack(v.to_numpy())
            d2 = (c * c).sum(axis=1) - 2.0 * (x @ c.T)
            # stable: exact distance ties resolve to the lowest list id,
            # matching the oracle's ORDER BY dist ASC, c ASC
            idx = np.argsort(d2, axis=1, kind="stable")[:, :n_top]
            return pd.Series(list(idx.astype(np.int32)))

        return F.pandas_udf(fn, T.ArrayType(T.IntegerType()))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col),
        F.explode(_assign_udf(1)(F.col(vec_col))).alias("list_id"),
        _norm(vec_col).alias("__cn"),
    ).filter(F.col("__cn") > 0)
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        F.explode(_assign_udf(n_probe)(F.col(vec_col))).alias("list_id"),
        _norm(vec_col).alias("__qn"),
    ).filter(F.col("__qn") > 0)
    # decide broadcast from the RAW query table (fanout = n_probe), so the
    # probe job never runs the centroid-assignment UDF
    q = _broadcast_if_small(
        q, broadcast_queries, max_broadcast_rows,
        count_on=queries, fanout=n_probe,
    )
    pairs = c.join(q, on="list_id").filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    scored = pairs.select(
        query_id_col,
        "neighbor_id",
        (_dot(vec_col, "__qv") / (F.col("__cn") * F.col("__qn"))).alias("cosine"),
    ).dropDuplicates([query_id_col, "neighbor_id"])
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cosine")
    )


def _ann_ivf_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    q_pdf=None,
) -> DataFrame:
    """Broadcast-query IVF search kernel (see ``ann_topk_ivf``): one
    corpus scan, numpy GEMM per (batch, inverted list), exact partial
    top-k per query inside each batch, global top-k window at the end.
    Semantics identical to the join path: stable lowest-list assignment,
    zero-norm rows excluded on both sides, self-matches excluded,
    (cosine desc, neighbor_id asc) ranking. ``q_pdf`` lets a caller that
    already collected the (query_id, vec) frame (``search_ivf_index``)
    skip the second collect job."""
    import pyarrow as pa

    from pyspark.sql import types as T

    sc = corpus.sparkSession.sparkContext

    if q_pdf is None:
        q_pdf = queries.select(query_id_col, vec_col).toPandas()
    qx = (
        np.vstack(q_pdf[vec_col].to_numpy())
        if len(q_pdf)
        else np.zeros((0, centroids.shape[1]))
    )
    qn = np.linalg.norm(qx, axis=1)
    keep = qn > 0
    qids = q_pdf[query_id_col].to_numpy()[keep]
    qx, qn = qx[keep], qn[keep]
    d2q = (centroids * centroids).sum(axis=1) - 2.0 * (qx @ centroids.T)
    probe = np.argsort(d2q, axis=1, kind="stable")[:, :n_probe]
    list_to_q = {
        int(l): np.where((probe == l).any(axis=1))[0]
        for l in np.unique(probe)
    }
    b = sc.broadcast((centroids, qids, qx, qn, list_to_q))

    qid_type = queries.schema[query_id_col].dataType
    nid_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, qid_type),
            T.StructField("neighbor_id", nid_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa, nid_pa = to_arrow_type(qid_type), to_arrow_type(nid_type)

    def kernel(batches):
        cents, q_ids, q_x, q_n, l2q = b.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            pdf = batch.to_pandas()
            ids = pdf.iloc[:, 0].to_numpy()
            x = np.vstack(pdf.iloc[:, 1].to_numpy()).astype(np.float64)
            cn = np.linalg.norm(x, axis=1)
            valid = cn > 0
            d2 = (cents * cents).sum(axis=1) - 2.0 * (x @ cents.T)
            assign = np.argsort(d2, axis=1, kind="stable")[:, 0]
            out_q, out_n, out_c = [], [], []
            for l in np.unique(assign[valid]):
                qidx = l2q.get(int(l))
                if qidx is None or not len(qidx):
                    continue
                rows = np.where((assign == l) & valid)[0]
                # rows sorted by neighbor id → the STABLE argsort on -cos
                # below yields (cosine desc, neighbor_id asc) exactly
                rows = rows[np.argsort(ids[rows], kind="stable")]
                cos = (x[rows] @ q_x[qidx].T) / (
                    cn[rows][:, None] * q_n[qidx][None, :]
                )
                cos[ids[rows][:, None] == q_ids[qidx][None, :]] = -np.inf
                kk = min(k, len(rows))
                order = np.argsort(-cos, axis=0, kind="stable")[:kk, :]  # (kk, nq)
                taken = np.take_along_axis(cos, order, axis=0)
                finite = np.isfinite(taken)
                out_q.append(np.broadcast_to(q_ids[qidx][None, :], taken.shape)[finite])
                out_n.append(ids[rows][order][finite])
                out_c.append(taken[finite])
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_q), type=qid_pa),
                        pa.array(np.concatenate(out_n), type=nid_pa),
                        pa.array(np.concatenate(out_c), type=pa.float64()),
                    ],
                    names=[query_id_col, "neighbor_id", "cosine"],
                )

    partial = corpus.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        kernel, schema=out_schema
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cosine")
    )


def hyperplane_tables(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """OR-amplified SRP LSH: one (table_idx, bucket) row per vector per
    table, each table drawn from an independent hyperplane set.

    A single hash table has a recall cliff (a near neighbor missing one
    bit of one signature is lost); with T OR'd tables the miss
    probability decays as (1−pⁿ)ᵀ. Output is exploded long-form so the
    candidate join is a plain equi join on (table_idx, bucket)."""
    tables = ", ".join(
        f"struct({t} AS table_idx, {_signature_sql(dim, n_planes, vec_col, seed + 1013 * t)} AS bucket)"
        for t in range(n_tables)
    )
    return df.select("*", F.expr(f"inline(array({tables}))"))


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    broadcast_queries: bool | None = None,
    max_broadcast_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Approximate top-k: candidates limited to vectors sharing any of the
    query's ``n_tables`` LSH buckets (OR amplification), then exact
    cosine ranking within the candidate set. At corpus scale the bucket
    join replaces the |Q|×|C| scan with ~|Q|×|C|·T/2^planes expected
    pairs; recall rises with ``n_tables``, candidate cost with
    ``n_planes`` lowered. A query side past ``max_broadcast_rows`` joins
    as a plain shuffle equi join on (table_idx, bucket) — the bucketed
    candidate bound makes all-pairs-shaped calls (queries ≈ corpus)
    safe without any broadcast."""
    c = hyperplane_tables(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        dim, n_planes, n_tables, vec_col, seed,
    ).withColumn("__cn", _norm(vec_col)).filter(F.col("__cn") > 0)
    q = hyperplane_tables(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv")),
        dim, n_planes, n_tables, "__qv", seed,
    ).withColumn("__qn", _norm("__qv")).filter(F.col("__qn") > 0)
    q = _broadcast_if_small(
        q, broadcast_queries, max_broadcast_rows,
        count_on=queries, fanout=n_tables,
    )
    pairs = (
        c.join(q, on=["table_idx", "bucket"])
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        # a pair colliding in several tables must score once
        .dropDuplicates(["neighbor_id", query_id_col])
    )
    scored = pairs.select(
        query_id_col,
        "neighbor_id",
        (_dot(vec_col, "__qv") / (F.col("__cn") * F.col("__qn"))).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cosine")
    )


def _hadoop_write_text(spark, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FileSystem API, so the
    sidecar lands next to the parquet data on ANY supported store
    (s3a://, hdfs://, file:) — a raw Python ``open()`` on the path only
    works for the local filesystem and would strand a data-only index."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _hadoop_read_text(spark, path: str) -> str:
    """Read a small text file through the Hadoop FileSystem API (the
    read twin of :func:`_hadoop_write_text`)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    stream = fs.open(p)
    try:
        # py4j passes primitive arrays by value, so a read-into-buffer
        # loop can't observe the bytes — drain the stream JVM-side
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    kmeans_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Persist an IVF index: the corpus written as parquet PARTITIONED BY
    its inverted-list assignment (``list_id``), with the coarse-quantizer
    centroids in a JSON sidecar. At corpus scale this converts every
    subsequent search into a PARTITION-PRUNED scan — only the probed
    ``n_probe/n_lists`` fraction of the corpus is read from storage,
    instead of re-assigning the whole corpus per query batch the way
    :func:`ann_topk_ivf` must. Returns the centroids.

    Assignment is the same stable lowest-list argmin as the search
    kernels, so a persisted index and an in-memory search agree
    exactly."""
    import json
    import os

    if centroids is None:
        centroids = train_kmeans(
            corpus.select(F.col(vec_col)), k=n_lists, n_iter=kmeans_iter,
            vec_col=vec_col, seed=seed,
        )
    sc = corpus.sparkSession.sparkContext
    b_c = sc.broadcast(centroids)

    def assign(v):
        import pandas as pd

        c = b_c.value
        x = np.vstack(v.to_numpy())
        d2 = (c * c).sum(axis=1) - 2.0 * (x @ c.T)
        return pd.Series(np.argsort(d2, axis=1, kind="stable")[:, 0].astype(np.int32))

    from pyspark.sql import types as T

    assign_udf = F.pandas_udf(assign, T.IntegerType())
    (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("list_id", assign_udf(F.col(vec_col)))
        # cluster by list before the partitioned write: without this,
        # every input partition writes a sliver into every list dir
        # (|input partitions| × n_lists tiny files — measured 4× slower
        # to scan at 100k×64 lists than the clustered layout). One task
        # per list → O(1) files per partition; oversized lists still
        # split on read via maxPartitionBytes.
        .repartition(int(centroids.shape[0]), "list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(path)
    )
    dtypes = dict(corpus.dtypes)
    meta = {
        "n_lists": int(centroids.shape[0]),
        "dim": int(centroids.shape[1]),
        "id_col": id_col,
        "vec_col": vec_col,
        # recorded so searches can pass an explicit read schema and skip
        # the per-call parquet footer/schema-inference job (~0.1-0.2 s
        # per search call at the bench shape)
        "schema_ddl": (
            f"`{id_col}` {dtypes[id_col]}, `{vec_col}` {dtypes[vec_col]}, list_id int"
        ),
        "centroids": [float(v) for v in centroids.ravel()],
    }
    # through the Hadoop FS API, not open(): the index must be buildable
    # on s3a:// / hdfs:// stores, where the parquet data lands via Hadoop
    # but a raw local open() would fail or write to the driver's disk
    _hadoop_write_text(
        corpus.sparkSession, os.path.join(path, "_ivf_meta.json"), json.dumps(meta)
    )
    return centroids


def search_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    query_id_col: str = "query_id",
    vec_col: str | None = None,
) -> DataFrame:
    """Top-k cosine search against a persisted :func:`build_ivf_index`
    store: the query side's probed list set (≤ ``n_probe``·|distinct
    queries' lists| values, bounded by ``n_lists``) prunes the scan to
    those PARTITIONS — the plan shows ``PartitionFilters`` on
    ``list_id``, so storage I/O is ``n_probe/n_lists`` of the corpus —
    then the search runs identically to :func:`ann_topk_ivf` (same
    stable assignment, same (cosine desc, id asc) ties): a bounded query
    batch rides the broadcast-GEMM kernel over the pruned scan — the
    probe assignment is computed ONCE, driver-side, from the same single
    collect that feeds the kernel (no Spark UDF, no second job) — while
    an all-pairs-shaped call falls back to the shuffle equi join on
    ``list_id`` (no pruning collect: its probed set approaches every
    list, so pruning wins nothing)."""
    import json
    import os

    meta = json.loads(_hadoop_read_text(spark, os.path.join(path, "_ivf_meta.json")))
    centroids = np.array(meta["centroids"]).reshape(meta["n_lists"], meta["dim"])
    id_col = meta["id_col"]
    vec_col = vec_col or meta["vec_col"]

    # broadcast-GEMM path: one collect of the query batch yields the probe
    # assignment (driver-side numpy — same stable lowest-list argsort the
    # executor kernels use), the probed-list partition filter, AND the
    # query matrix the GEMM kernel broadcasts. One job total; the pruned
    # scan then pays n_probe/n_lists of the corpus I/O and the in-list
    # BLAS re-rank matches ann_topk_ivf exactly.
    cap = max(DEFAULT_MAX_BROADCAST_ROWS // max(n_probe, 1), 1)
    if _fits_rows(queries, cap):
        q_pdf = queries.select(query_id_col, vec_col).toPandas()
        if len(q_pdf):
            qx = np.vstack(q_pdf[vec_col].to_numpy())
            d2 = (centroids * centroids).sum(axis=1) - 2.0 * (qx @ centroids.T)
            probe = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            probed = sorted(int(v) for v in np.unique(probe))
        else:
            probed = []
        reader = spark.read
        if meta.get("schema_ddl"):
            reader = reader.schema(meta["schema_ddl"])
        pruned = (
            reader.parquet(path)
            .filter(F.col("list_id").isin(probed))
            .select(F.col(id_col), F.col(vec_col))
        )
        return _ann_ivf_gemm(
            pruned, queries, centroids, k, n_probe,
            id_col, vec_col, query_id_col, q_pdf=q_pdf,
        )

    # all-pairs-shaped call: shuffle equi join on list_id, no pruning
    # collect (the probed set approaches every list)
    sc = spark.sparkContext
    b_c = sc.broadcast(centroids)

    def probe_fn(v):
        import pandas as pd

        c = b_c.value
        x = np.vstack(v.to_numpy())
        d2 = (c * c).sum(axis=1) - 2.0 * (x @ c.T)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(idx.astype(np.int32)))

    from pyspark.sql import types as T

    probe_udf = F.pandas_udf(probe_fn, T.ArrayType(T.IntegerType()))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        F.explode(probe_udf(F.col(vec_col))).alias("list_id"),
        _norm(vec_col).alias("__qn"),
    ).filter(F.col("__qn") > 0)
    reader = spark.read
    if meta.get("schema_ddl"):
        reader = reader.schema(meta["schema_ddl"])
    store = reader.parquet(path).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col),
        F.col("list_id"),
        _norm(vec_col).alias("__cn"),
    ).filter(F.col("__cn") > 0)
    pairs = store.join(q, on="list_id").filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    scored = pairs.select(
        query_id_col,
        "neighbor_id",
        (_dot(vec_col, "__qv") / (F.col("__cn") * F.col("__qn"))).alias("cosine"),
    ).dropDuplicates([query_id_col, "neighbor_id"])
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cosine")
    )
