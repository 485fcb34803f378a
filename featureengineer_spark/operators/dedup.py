"""Deduplication operators for large-scale document corpora.

The reference's only dedup is key-based ``drop_duplicates``
(``PrepareData.py:647-658``); a transcript/training-data engine needs the
full ladder: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
near-dup. Everything below is DataFrame ops (explode → hash → agg) plus
ONE vectorized Arrow/numpy kernel that every pair generator shares
(:func:`_bucket_pairs`: one exchange on the bucket key, in-bucket pair
enumeration and scoring, partial + final aggregation) — zero per-row
Python — so each stage is shuffle-bounded and scales linearly with
corpus size; candidate generation is bucketed so the quadratic pair
space is never materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def normalize_text(col) -> F.Column:
    """Canonical text form for dedup: lowercase, collapse whitespace,
    strip non-alphanumerics — i.e. the maximal ``[a-z0-9]+`` runs of the
    lowercased text joined by single spaces.

    Formulated as one ``split`` on separator runs + filter + rejoin
    rather than the equivalent two ``regexp_replace`` passes
    (``[^a-z0-9\\s]`` -> " ", then ``\\s+`` -> " ", then trim):
    ``Matcher.replaceAll`` rebuilds the string through a per-match
    StringBuilder and was measured at 5.7 s for 60 MB of text on
    local[32], vs 0.24 s for ``Pattern.split`` — a 24x difference on the
    operator that feeds every dedup/tokenize/textstats hot path. The two
    forms are byte-identical for every input (property-tested in
    tests/test_dedup.py): any character outside ``[a-z0-9]`` — punctuation,
    whitespace of any flavor, uppercase already lowered by ``lower`` —
    ends up part of a separator run collapsing to one space, and
    leading/trailing runs vanish exactly like ``trim``."""
    words = F.split(F.lower(col), r"[^a-z0-9]+")
    return F.array_join(F.filter(words, lambda w: w != F.lit("")), " ")


def _norm_words(col) -> F.Column:
    """Word array of the normalized text: the non-empty ``[a-z0-9]+``
    runs, equal to ``split(normalize_text(c), " ")`` except for the
    no-alphanumerics document, where that form yields ``[""]`` and this
    yields ``[]`` — every caller filters empty words/shingles, so the
    two are interchangeable downstream, and this form skips the
    join-then-resplit round trip. ``array_remove`` drops exactly the
    empty words a ``filter(w != '')`` would (``split`` yields no NULL
    elements) without a Python lambda, which costs ~35 more driver->JVM
    round trips every time the plan is built."""
    return F.array_remove(F.split(F.lower(col), r"[^a-z0-9]+"), "")


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by normalized-text hash; keeps the min-id row per
    group (deterministic representative). One shuffle on the 64-bit hash
    — at 100 TB this is the cheapest possible full-corpus dedup."""
    h = F.xxhash64(normalize_text(F.col(text_col)))
    keep = df.withColumn("__h", h).groupBy("__h").agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=id_col, how="inner").drop("__h")


def _word_shingles(text_col: str, n: int) -> F.Column:
    """Distinct word n-gram shingles as an array column (JVM-side).

    NOTE: expressions referenced inside a higher-order-function lambda
    are re-evaluated PER ELEMENT (no common-subexpression elimination
    across the lambda boundary), so the normalize+split must be bound to
    a column before the ``transform`` — use ``_exploded_shingles`` for
    the explode form, which does exactly that. Inlining
    ``split(normalize(text))`` here would run the two regexes ~|words|
    times per document (measured ~20× wall on the shingle stage)."""
    # Shingle i is built with n positional gets + one concat_ws rather
    # than array_join(slice(...)): slice allocates a fresh ArrayData per
    # element inside the interpreted lambda, measured 2.4 s vs 0.6 s for
    # the 10.6M-shingle bench corpus. Byte-identical output: get returns
    # NULL past the end (ANSI-safe, unlike element_at) and concat_ws
    # skips NULLs, exactly like array_join over the short tail slice; the
    # n==0-words case yields "" in both forms (callers filter empty
    # shingles). One parsed expression, not a Python lambda over Column
    # objects, which costs ~160 driver->JVM round trips per plan.
    w = f"`{text_col}`"
    gets = ", ".join(f"get({w}, i + {j} - 1)" for j in range(n))
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size({w}) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', {gets})))"
    )


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, __sh) rows: normalize+split ONCE per doc into a bound column,
    then shingle-transform + explode over it.

    Empty shingles are dropped: an EMPTY document (common after
    cleaning passes strip boilerplate-only pages) would otherwise emit
    the single shingle "" — giving every empty doc an IDENTICAL minhash
    signature, which collapses the whole empty class into one LSH
    bucket and turns candidate pairing quadratic (measured: 20k
    post-cleaning-empty docs at a 200k-doc curation run -> 3.2e9 join
    rows). Under Jaccard an empty set is similar to nothing, so the
    correct candidate set for empty docs is empty; exact dedup remains
    the pass that collapses them."""
    return (
        df.select(F.col(id_col), _norm_words(F.col(text_col)).alias("__w"))
        .select(F.col(id_col), F.explode(_word_shingles("__w", n)).alias("__sh"))
        .filter(F.length("__sh") > 0)
    )


def _md5_long(expr: F.Column) -> F.Column:
    """First 60 bits of md5 as a non-negative BIGINT — slower than
    xxhash64 but byte-identical in DuckDB
    (``('0x'||substr(md5(x),1,15))::BIGINT``), so md5-hashed operators
    are oracle-checkable."""
    return F.conv(F.substring(F.md5(expr), 1, 15), 16, 10).cast("long")


def _seeded_hash(seed_val: int, col: F.Column, hash_fn: str) -> F.Column:
    if hash_fn == "xxhash64":
        return F.xxhash64(F.lit(seed_val), col)
    if hash_fn == "md5":
        return _md5_long(F.concat(F.lit(f"{seed_val}:"), col))
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


#: Mersenne prime 2^31 - 1: the universal-hash modulus. a*h + b stays
#: under 2^62 + 2^31, so the arithmetic never overflows BIGINT (ANSI-mode
#: safe) and replays exactly in DuckDB.
MINHASH_PRIME = 2_147_483_647

#: Working-set budget of one pair block inside the in-bucket pair kernel,
#: in BYTES. A block holds ~96 B of index, id, count and sort arrays per
#: pair plus both sides' gathered payload rows, so the kernel
#: materializes budget / (96 + 2 x payload row bytes) pairs at once —
#: ~1.8M for a num_perm=64 signature, ~0.9M for a 64-double vector,
#: ~11M with no payload — regardless of bucket skew; a giant bucket
#: streams through in blocks.
_PAIR_BLOCK = 1 << 30


def minhash_perm_coeffs(num_perm: int, seed: int):
    """Seed-derived (a, b) coefficient lists for the universal-hash
    permutation family ``h_p = (a_p·h + b_p) mod P`` — shared by the
    Spark kernel and the DuckDB oracle builder."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_PRIME, size=num_perm).tolist()
    b = rng.integers(0, MINHASH_PRIME, size=num_perm).tolist()
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per doc, hash-once formulation: each shingle is
    hashed ONE time to a 31-bit base value, and the ``num_perm``
    "permutations" are the universal-hash family
    ``h_p = (a_p·h + b_p) mod (2³¹−1)`` with seed-derived coefficients —
    integer multiply-adds instead of ``num_perm`` string hashes per
    shingle (the datasketch formulation; ~20× less hashing work at
    num_perm=64). One explode + one partial-aggregating groupBy whose
    aggregate is a single ``array(min(...), ...)`` expression over the
    ``num_perm`` permutations — map-side combinable. ``hash_fn='md5'``
    trades base-hash speed for a DuckDB-reproducible signature (same
    minima both engines — used by the oracle-checked gate query)."""
    base = _seeded_hash(seed, F.col("__sh"), hash_fn)
    ex = _exploded_shingles(df, id_col, text_col, shingle).select(
        id_col, F.pmod(base, F.lit(MINHASH_PRIME)).alias("__h")
    )
    # One parsed SQL expression, not a Column per permutation: every F.*
    # call is a driver->JVM round trip, and num_perm Columns cost ~5,300
    # of them (~0.8 s) per plan at num_perm=64 — paid on every streaming
    # gate micro-batch before any data moves. Literal types are those of
    # F.lit (int coefficients and modulus, long __h); the minima are
    # pinned in tests/test_dedup.py.
    a, b = minhash_perm_coeffs(num_perm, seed)
    mins = ", ".join(
        f"min(pmod({ap} * __h + {bp}, {MINHASH_PRIME}))" for ap, bp in zip(a, b)
    )
    return ex.groupBy(id_col).agg(F.expr(f"array({mins})").alias("minhash"))


def _banded_rows(
    sig: DataFrame,
    id_col: str,
    num_perm: int,
    bands: int,
    hash_fn: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Signature frame → long-form (id, [extra], band_idx, band_hash)
    rows: the LSH banding shared by the candidate self-join, the batch
    first-seen gate, and the streaming near-dup gate."""
    rows = num_perm // bands
    band_of = F.xxhash64 if hash_fn == "xxhash64" else _md5_long
    # The band loop is one parsed expression: a Python lambda over Column
    # objects costs round trips per band row (see minhash_signatures).
    # Band string via positional gets + concat_ws, not
    # array_join(slice(...)): slice allocates an array per band per doc
    # inside the interpreted lambda; byte-identical output — every slice
    # element exists (num_perm = bands*rows) and both forms render the
    # values comma-joined. The string is hashed outside the lambda, by
    # the same Column helpers every other md5/xxhash64 operator uses.
    band_str = ", ".join(f"get(minhash, b * {rows} + {j})" for j in range(rows))
    cols = [F.col(id_col), *[F.col(c) for c in extra_cols]]
    return sig.select(
        *cols,
        F.expr(
            f"inline(transform(sequence(0, {bands - 1}), b -> struct("
            f"b AS band_idx, concat_ws(',', {band_str}) AS __band)))"
        ),
    ).select(*cols, "band_idx", band_of(F.col("__band")).alias("band_hash"))


def near_dedup_first_seen(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    order_col: str | None = None,
    num_perm: int = 64,
    bands: int = 16,
    shingle: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Single-pass first-per-bucket near-dedup gate: a document is kept
    iff it is the FIRST arrival — ordered by (``order_col``, id), or id
    alone when ``order_col`` is None — in EVERY one of its MinHash LSH
    band buckets.

    Aggressive by design: unlike :func:`near_dedup_filter` (pairs →
    connected components → keep the min-id canonical), this rule decides
    per document in ONE pass with no pair graph, so a document that
    collides with an already-dropped document's *other* buckets is also
    dropped. That is the standard online-ingest trade-off — it is the
    batch twin of ``streaming.stream_dedup_neardup`` (identical rule;
    parity-tested), and the right semantics when dedup must gate an
    arrival stream instead of a completed corpus. Shuffle: one banding
    pass + one window over band buckets + one per-doc agg — never |df|²."""
    from pyspark.sql.window import Window

    sig = minhash_signatures(
        df, id_col, text_col, num_perm, shingle, seed, hash_fn
    )
    banded = _banded_rows(sig, id_col, num_perm, bands, hash_fn)
    if order_col is not None:
        banded = banded.join(
            df.select(F.col(id_col), F.col(order_col).alias("__ord")), on=id_col
        )
        order = [F.col("__ord"), F.col(id_col)]
    else:
        order = [F.col(id_col)]
    w = Window.partitionBy("band_idx", "band_hash").orderBy(*order)
    keep = (
        banded.withColumn("__first", (F.row_number().over(w) == 1).cast("int"))
        .groupBy(id_col)
        .agg(F.min("__first").alias("__all_first"))
        .filter(F.col("__all_first") == 1)
    )
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


def band_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band_idx, band_hash) rows for a corpus — the persistable
    near-dup index the ingest gates probe (the batch analog of the
    streaming gate's band store). Append the NEW batch's store rows
    after gating it (kept AND dropped docs — first-seen semantics) and
    the index stays ``bands`` rows per document ever ingested; partition
    the store by ingest date so retention is a partition drop."""
    sig = minhash_signatures(
        df, id_col, text_col, num_perm, shingle, seed, hash_fn
    )
    return _banded_rows(sig, id_col, num_perm, bands, hash_fn)


def near_dedup_incremental(
    new_docs: DataFrame,
    seen_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    order_col: str | None = None,
    num_perm: int = 64,
    bands: int = 16,
    shingle: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Batch ingest gate against an EXISTING corpus: keep a new document
    iff (a) none of its band buckets appears in ``seen_bands`` (the
    :func:`band_store` of everything already ingested) and (b) it is
    first-per-bucket inside the new batch (:func:`near_dedup_first_seen`
    rule). Applying this per ingest batch — appending
    ``band_store(new_docs)`` to the index each time — yields exactly the
    same kept set as one global ``near_dedup_first_seen`` over the
    concatenated corpus in arrival order (the property the streaming
    gate's parity test pins; this is its batch-ingest form for nightly
    compaction pipelines). Shuffle: banding + one semi join on
    (band_idx, band_hash) + the in-batch window — bucket-bounded, never
    |new|×|seen| row products."""
    banded = band_store(
        new_docs, id_col, text_col, num_perm, bands, shingle, seed, hash_fn
    )
    colliders = banded.join(
        seen_bands.select("band_idx", "band_hash"),
        on=["band_idx", "band_hash"],
        how="left_semi",
    ).select(id_col).distinct()
    within = near_dedup_first_seen(
        new_docs, id_col, text_col, order_col, num_perm, bands, shingle,
        seed, hash_fn,
    )
    return within.join(colliders, on=id_col, how="left_anti")


def _pair_kernel(n_keys: int, score=None, max_bucket=None, pair_block=None):
    """The ``mapInArrow`` function behind :func:`_bucket_pairs`: Arrow
    batches of (id, key…, payload…) rows, every bucket wholly inside the
    partition, → partial (id_a, id_b, __cnt[, __score]) batches.

    ``score(payload, ri, rj)`` maps the payload numpy arrays and two row
    index arrays to (per-pair score, keep mask or None); the score is
    max-reduced per pair, the count summed. ``max_bucket`` skips buckets
    holding more rows. Block sizes derive from the byte budget
    ``_PAIR_BLOCK`` read here, when the plan is built; ``pair_block``
    caps the pairs per block further."""
    budget = _PAIR_BLOCK

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        cols = [tbl.column(i).combine_chunks() for i in range(tbl.num_columns)]
        # Ids become dense ranks: integer compares and sorts, in the id
        # type's own order (strings by UTF-8 bytes), mapped back on emit.
        uniq = pc.unique(cols[0])
        uniq = uniq.take(pc.array_sort_indices(uniq))
        code = pc.index_in(cols[0], value_set=uniq).to_numpy().astype(np.int64)
        payload = [
            c.flatten().to_numpy(zero_copy_only=False).reshape(len(c), -1)
            if pa.types.is_list(c.type)
            else c.to_numpy(zero_copy_only=False)
            for c in cols[1 + n_keys :]
        ]
        row_bytes = sum(p.itemsize * (p.size // max(len(p), 1)) for p in payload)
        block = max(1, budget // (96 + 2 * row_bytes))
        if pair_block is not None:
            block = min(block, pair_block)
        # Group the partition's rows by bucket: one lexsort over the key
        # columns' dictionary codes (exact for any key type).
        keys = [
            c.dictionary_encode().indices.to_numpy().astype(np.int64)
            for c in cols[1 : 1 + n_keys]
        ]
        order = np.lexsort(keys)
        code = code[order]
        new_b = np.zeros(len(order), dtype=bool)
        new_b[0] = True
        for k in keys:
            k = k[order]
            new_b[1:] |= k[1:] != k[:-1]
        starts = np.flatnonzero(new_b)
        sizes = np.diff(np.append(starts, len(order)))

        def merge(a, b, vals):
            """Collapse duplicate (a, b) pairs: counts summed, score max'd."""
            po = np.lexsort((b, a))
            a, b, vals = a[po], b[po], [v[po] for v in vals]
            nb = np.ones(len(a), dtype=bool)
            nb[1:] = (a[1:] != a[:-1]) | (b[1:] != b[:-1])
            st = np.flatnonzero(nb)
            red = (np.add, np.maximum)
            return a[st], b[st], [r.reduceat(v, st) for r, v in zip(red, vals)]

        def block_partial(ri, rj):
            """(row_i, row_j) sorted-position pairs → compact partial:
            oriented id_a < id_b, equal ids dropped (the strict
            inequality the SQL forms used), scored, merged."""
            a, b = code[ri], code[rj]
            keep = a != b
            ri, rj, a, b = ri[keep], rj[keep], a[keep], b[keep]
            vals = [np.ones(len(a), dtype=np.int64)]
            if score is not None and len(a):
                s, ok = score(payload, order[ri], order[rj])
                if ok is not None:
                    a, b, s, vals[0] = a[ok], b[ok], s[ok], vals[0][ok]
                vals.append(s)
            if len(a) == 0:
                return None
            return merge(np.minimum(a, b), np.maximum(a, b), vals)

        # Bounded-memory accumulation: block partials pool in `pending`
        # and are merged once more before yielding, so a normal partition
        # emits ONE deduplicated batch, while a giant bucket flushes every
        # ~block pairs into the (spilling) final aggregation instead of
        # growing task memory. Pairs split across flushes are merged by
        # the final groupBy.
        pending: list = []

        def flush():
            if len(pending) == 1:
                a, b, vals = pending[0]
            else:
                a, b, vals = merge(
                    np.concatenate([p[0] for p in pending]),
                    np.concatenate([p[1] for p in pending]),
                    [np.concatenate(v) for v in zip(*(p[2] for p in pending))],
                )
            pending.clear()
            arrays = [uniq.take(pa.array(a)), uniq.take(pa.array(b))]
            arrays += [pa.array(v) for v in vals]
            names = ["id_a", "id_b", "__cnt", "__score"][: len(arrays)]
            return pa.RecordBatch.from_arrays(arrays, names=names)

        def add(part):
            if part is not None:
                pending.append(part)
                if sum(len(p[0]) for p in pending) >= block:
                    return flush()
            return None

        # Ragged triangular pair enumeration in BOUNDED blocks of at most
        # ~block pairs (index and gather arrays). All size-k buckets emit
        # their k(k-1)/2 pairs through one broadcast index expression,
        # batched so that buckets x pairs-per-bucket stays under the
        # block; a giant bucket streams its anchor rows in blocks (row i
        # pairs with every later row of the bucket).
        for k in np.unique(sizes):
            if k < 2 or (max_bucket is not None and k > max_bucket):
                continue
            sel = starts[sizes == k]
            k = int(k)
            p = k * (k - 1) // 2
            if p <= block:
                iu, ju = np.triu_indices(k, 1)
                per = max(1, block // p)
                for s0 in range(0, len(sel), per):
                    ss = sel[s0 : s0 + per]
                    out = add(
                        block_partial(
                            (ss[:, None] + iu[None, :]).ravel(),
                            (ss[:, None] + ju[None, :]).ravel(),
                        )
                    )
                    if out is not None:
                        yield out
            else:
                blk = max(1, block // (k - 1))
                for s in sel:
                    for i0 in range(0, k - 1, blk):
                        idx = np.arange(i0, min(i0 + blk, k - 1))
                        cnts = k - 1 - idx
                        total = int(cnts.sum())
                        ri = np.repeat(idx, cnts)
                        offs = np.concatenate(([0], np.cumsum(cnts[:-1])))
                        rj = (
                            np.arange(total)
                            - np.repeat(offs, cnts)
                            + np.repeat(idx + 1, cnts)
                        )
                        out = add(block_partial(int(s) + ri, int(s) + rj))
                        if out is not None:
                            yield out
        if pending:
            yield flush()

    return kernel


def _bucket_pairs(
    rows: DataFrame,
    id_col: str,
    keys: list[str],
    payload: list[str] = (),
    score=None,
    score_type=None,
    max_bucket: int | None = None,
    pair_block: int | None = None,
    clustered: bool = False,
) -> DataFrame:
    """The in-bucket pair primitive behind every near-dup pair generator:
    rows sharing a bucket key pair up, (id_a, id_b, n[, score]) out with
    id_a < id_b, ``n`` the number of (row_a, row_b) bucket co-occurrences
    and ``score`` the max of the kernel's per-pair score.

    One exchange hashes the rows by ``keys`` (every bucket lands wholly
    in one partition), one vectorized Arrow kernel enumerates and scores
    the in-bucket pairs and partial-aggregates them per partition, and
    one groupBy finishes — each row crosses ONE shuffle with its payload,
    and only ~|unique pairs| scalar rows cross the second (the partial +
    final aggregation shape). A generator-level SQL self-join instead
    evaluated the exploded subtree on both join sides and sorted both.
    NULL ids and NULL keys never pair (the SQL forms filtered NULL
    comparisons), nor do equal ids. ``clustered`` says the rows already
    arrive clustered by ``keys`` (a window partitioned by them was their
    last exchange), so no repartition is added."""
    id_type = rows.schema[id_col].dataType
    fields = [
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("__cnt", T.LongType()),
    ]
    aggs = [F.sum("__cnt").alias("n")]
    if score is not None:
        fields.append(T.StructField("__score", score_type))
        aggs.append(F.max("__score").alias("score"))
    kernel = _pair_kernel(len(keys), score, max_bucket, pair_block)
    rows = rows.dropna(subset=[id_col, *keys]).select(id_col, *keys, *payload)
    return (
        (rows if clustered else rows.repartition(*keys))
        .mapInArrow(kernel, schema=T.StructType(fields))
        .groupBy("id_a", "id_b")
        .agg(*aggs)
    )


def _match_count(payload, ri, rj):
    """Matching MinHash signature positions per pair."""
    sig = payload[0]
    return (sig[ri] == sig[rj]).sum(axis=1).astype("int32"), None


def _hamming_within(max_hamming: int):
    """SimHash hamming distance per pair, kept when ≤ ``max_hamming``."""

    def score(payload, ri, rj):
        import numpy as np

        x = (payload[0][ri] ^ payload[0][rj]).view(np.uint64)
        # SWAR popcount (numpy < 2 has no bitwise_count)
        x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
        x = (x & np.uint64(0x3333333333333333)) + (
            (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
        )
        x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        h = ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int32)
        return h, h <= max_hamming

    return score


def _cosine_at_least(threshold: float):
    """Cosine per pair from (vector, norm) payload, kept when ≥
    ``threshold``. The dot product is the left fold from 0.0 that
    Spark's ``aggregate(zip_with(a, b, x * y), 0D, acc + x)`` computes —
    element products in the vector's own type, sums in double, same
    order — so scores are bit-identical to the SQL form."""

    def score(payload, ri, rj):
        import numpy as np

        vec, norm = payload
        dot = np.zeros(len(ri))
        for d in range(vec.shape[1]):
            dot = dot + vec[ri, d] * vec[rj, d]
        cos = dot / (norm[ri] * norm[rj])
        return cos, cos >= threshold

    return score


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    pair_block: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH on MinHash.

    Signature split into ``bands`` bands of ``num_perm/bands`` rows;
    docs sharing any band bucket become a candidate pair. Pairs come
    from the in-bucket pair kernel keyed on (band_idx, band_hash) —
    buckets are small, so the output approximates the true near-dup
    pair set, not n² pairs. Returns (id_a, id_b, n_shared_bands,
    est_jaccard) with id_a < id_b; est_jaccard is the fraction of
    matching minhash positions. ``hash_fn='md5'`` makes the whole
    candidate set DuckDB-reproducible. ``pair_block`` caps the pairs the
    kernel materializes at once (default: sized from ``_PAIR_BLOCK``).
    """
    sig = minhash_signatures(df, id_col, text_col, num_perm, shingle, seed, hash_fn)
    # Every minhash value is < 2^31-1 (mod-P universal hash), so the
    # transport copy of the signature can ride the bucket shuffle as
    # array<int> — half the bytes of the array<long> original (guide
    # §2.3: narrower types); equality compares are unaffected.
    sig = sig.withColumn("minhash", F.col("minhash").cast("array<int>"))
    banded = _banded_rows(
        sig, id_col, num_perm, bands, hash_fn, extra_cols=("minhash",)
    )
    # The position-match count is computed once per pair in numpy (an
    # interpreted zip_with re-counted it once per shared band); it is the
    # same for every shared bucket of a pair, so max() is a pick.
    pairs = _bucket_pairs(
        banded, id_col, ["band_idx", "band_hash"], ["minhash"],
        _match_count, T.IntegerType(), pair_block=pair_block,
    )
    return pairs.select(
        "id_a", "id_b", F.col("n").alias("n_shared_bands"),
        (F.col("score") / F.lit(num_perm)).alias("est_jaccard"),
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document, fully JVM-side.

    Explode words → 64-bit hash per word → per-bit signed counts (one
    conditional sum per bit, map-side combinable) → reassemble sign
    bits. ``hash_fn='md5'`` uses the DuckDB-reproducible 60-bit md5
    prefix (bits 60..63 always clear) so the signature — and every
    near-dup pair derived from it — is oracle-checkable.
    """
    word_hash = (
        F.xxhash64("__w") if hash_fn == "xxhash64" else _md5_long(F.col("__w"))
    )
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    # empty docs would all hash the single word "" to the same simhash
    # and collapse into one quadratic pigeonhole block — drop them (same
    # rationale as _exploded_shingles)
    ex = (
        df.select(
            F.col(id_col),
            F.explode(_norm_words(F.col(text_col))).alias("__w"),
        )
        .filter(F.length("__w") > 0)
        .select(F.col(id_col), word_hash.alias("__h"))
    )
    bit_sums = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    acc = F.lit(0).cast("long")
    for b in range(bits - 1):  # skip sign bit 63 to stay in signed long
        acc = acc + F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long") * (2 ** b)).otherwise(0)
    return bit_sums.select(F.col(id_col), acc.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split the 64-bit hash into ``blocks`` chunks; two
    hashes within hamming d < blocks must agree on ≥1 chunk, so pairs
    come from the in-bucket pair kernel keyed on (chunk_idx, chunk_value)
    — never n² — which scores and filters the hamming distance in place.

    The guarantee requires ``max_hamming < blocks``: by default blocks is
    derived as ``max_hamming + 1`` (full recall); passing a smaller
    ``blocks`` explicitly raises rather than silently dropping pairs
    whose differing bits span every chunk.
    """
    if blocks is None:
        blocks = min(max_hamming + 1, 64)
    elif max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming < blocks "
            f"(got max_hamming={max_hamming}, blocks={blocks}); pairs with "
            f"{blocks}..{max_hamming} differing bits could be missed"
        )
    sh = simhash(df, id_col, text_col, hash_fn=hash_fn)
    width = 64 // blocks
    mask = (1 << width) - 1 if width < 64 else -1  # -1: all 64 bits, as a BIGINT
    chunks = ", ".join(
        f"struct({i} AS chunk_idx,"
        f" shiftrightunsigned(simhash, {i * width}) & {mask} AS chunk_val)"
        for i in range(blocks)
    )
    chunked = sh.select(id_col, "simhash", F.expr(f"inline(array({chunks}))"))
    pairs = _bucket_pairs(
        chunked, id_col, ["chunk_idx", "chunk_val"], ["simhash"],
        _hamming_within(max_hamming), T.IntegerType(),
    )
    return pairs.select("id_a", "id_b", F.col("score").alias("hamming"))


def _shingle_overlaps(
    df: DataFrame, id_col: str, text_col: str, n: int, max_shingle_df: int | None
) -> DataFrame:
    """(id_a, id_b, __inter, __na, __nb) for every doc pair sharing ≥1
    n-gram shingle: |A∩B| from the in-bucket pair kernel keyed on the
    shingle (an inverted index), the per-doc shingle counts |A|, |B|
    joined on. ``max_shingle_df`` drops shingles held by more rows than
    the cap BEFORE pairing (standard stop-shingle practice: a shingle
    shared by m docs contributes O(m²) pairs, so one stop phrase across a
    large corpus is otherwise a single-task bomb); the sizes count the
    capped sets too. ``None`` disables the cap."""
    sh = _exploded_shingles(df, id_col, text_col, n)
    capped = max_shingle_df is not None
    if capped:
        # The window counting each shingle's rows also clusters the rows
        # by shingle, so the pair kernel needs no exchange of its own.
        dfreq = F.count("*").over(Window.partitionBy("__sh"))
        sh = sh.withColumn("__df", dfreq).filter(F.col("__df") <= max_shingle_df)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__n"))
    inter = _bucket_pairs(sh, id_col, ["__sh"], clustered=capped)
    inter = inter.withColumnRenamed("n", "__inter")
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Inverted index on the distinct shingles: the in-bucket pair kernel
    counts intersections per pair, then |A∪B| = |A|+|B|−|A∩B|. Output
    (id_a, id_b, jaccard ≥ threshold). ``max_shingle_df`` is the
    stop-shingle cap (see :func:`_shingle_overlaps`): Jaccard is computed
    over the capped shingle sets on both the intersection AND size sides
    (consistent definition). ``None`` disables the cap.
    """
    inter, na, nb = F.col("__inter"), F.col("__na"), F.col("__nb")
    return (
        _shingle_overlaps(df, id_col, text_col, n, max_shingle_df)
        .select("id_a", "id_b", (inter / (na + nb - inter)).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph →
    ``(doc_id, cluster_id)`` with ``cluster_id`` = min doc id in the
    component (the canonical representative).

    A dedup pipeline ends by grouping pairs into clusters and keeping one
    canonical doc per cluster; pairwise output alone can't do that (a~b,
    b~c must collapse to one cluster even though a~c was never emitted).
    Algorithm: min-label propagation with POINTER DOUBLING — each round,
    every node takes the min label over its closed neighborhood AND the
    label of its current label (l(v) ← min(l(v), min_N l(u), l(l(v)))).
    The doubling step halves the remaining distance to the component
    minimum each round, so convergence is O(log diameter) rounds (a 10⁶-
    node chain converges in ~20) instead of O(diameter). Each round is
    two hash joins + one agg, all shuffle-bounded by |edges| + |nodes|.
    A driver-side checksum (one tiny agg) detects the fixed point;
    ``max_iter`` bounds the loop.
    """
    a = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    b = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    nodes = a.select(F.col("src").alias("node")).unionByName(
        a.select(F.col("dst").alias("node"))
    ).distinct()
    loops = nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    edges = a.unionByName(b).unionByName(loops).distinct().persist()

    labels = nodes.select("node", F.col("node").alias("label")).persist()
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.src == labels.node, "inner")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        # pointer doubling: follow the label one hop (labels only ever
        # shrink, so l(l(v)) <= l(v) — least() is just defensive)
        lab2 = labels.select(
            F.col("node").alias("__ln"), F.col("label").alias("__ll")
        )
        # localCheckpoint truncates the lineage: the doubling self-join
        # would otherwise double the logical plan every round (2^iter
        # analysis blow-up)
        new_labels = (
            neigh.join(lab2, neigh.label == F.col("__ln"), "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("__ll"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        chk = new_labels.agg(
            F.expr("bit_xor(xxhash64(node, label))").alias("s")
        ).collect()[0]["s"]
        labels.unpersist()
        labels = new_labels
        if chk == prev_sum:
            converged = True
            break
        prev_sum = chk
    if not converged:
        import warnings

        warnings.warn(
            f"near_dup_clusters: no fixed point within max_iter={max_iter} "
            "iterations — components deeper than max_iter hops may carry "
            "non-minimal labels; raise max_iter",
            stacklevel=2,
        )
    edges.unpersist()
    # truncate the iteration lineage so downstream consumers don't replay
    # the propagation chain once the intermediate caches are dropped
    out = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).localCheckpoint(eager=True)
    labels.unpersist()
    return out


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = 8,
    n_tables: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ threshold).

    Default path is LSH-bucketed: vectors are hashed into ``n_tables``
    OR'd random-hyperplane tables (``similarity.hyperplane_tables``), the
    in-bucket pair kernel pairs vectors on (table, bucket) — never n² —
    and verifies exact cosine within buckets (no false positives; the
    approximation is recall-only).

    BEHAVIOR CHANGE vs the first release: the default used to be the
    exact brute-force cartesian; it is now approximate. The default table
    count is sized so the miss rate is negligible: at cosine 0.95 a
    single 8-plane table collides with probability (1−acos(0.95)/π)⁸ ≈
    0.43, so 12 OR'd tables give per-pair recall ≈ 1−0.57¹² ≈ 0.9987.
    Pairs closer to the threshold from above are missed slightly more
    often; raise ``n_tables`` (linear candidate cost) to tighten.
    ``n_planes=None`` puts every vector in ONE bucket — the exact
    brute-force all-pairs baseline (test / small-corpus only, quadratic),
    scored by the same kernel formula as the LSH path.

    The vector dimension is read from the first vector with a non-zero
    norm; a vector of any other length never pairs (its SQL cosine would
    be NULL). No such vector: an empty result with the usual schema.
    """
    norm = F.expr(f"sqrt(aggregate(`{vec_col}`, 0D, (acc, x) -> acc + x * x))")
    e = emb.select(
        F.col(id_col), F.col(vec_col), norm.alias("__norm")
    ).filter(F.col("__norm") > 0)
    first = e.select(vec_col).first()
    dim = len(first[0]) if first is not None else 0
    e = e.filter(F.size(vec_col) == dim)
    if n_planes is None or first is None:
        keyed, keys = e.withColumn("__all", F.lit(0)), ["__all"]
    else:
        from featureengineer_spark.operators.similarity import hyperplane_tables

        keyed = hyperplane_tables(e, dim, n_planes, n_tables, vec_col, seed)
        keys = ["table_idx", "bucket"]
    pairs = _bucket_pairs(
        keyed, id_col, keys, [vec_col, "__norm"],
        _cosine_at_least(threshold), T.DoubleType(),
    )
    return pairs.select("id_a", "id_b", F.col("score").alias("cosine"))


def near_dedup_filter(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    score_col: str | None = None,
) -> DataFrame:
    """End-to-end near-duplicate REMOVAL: keep one canonical document per
    near-dup cluster plus every document that appears in no pair — the
    terminal step of a training-data dedup pipeline (candidate pairs →
    connected components → filter), composing :func:`near_dup_clusters`
    with a left-anti join.

    The representative is the min-id member by default; pass
    ``score_col`` (a quality signal on ``df``) to keep the
    HIGHEST-scoring member instead (ties → lowest id) — real pipelines
    keep the best copy, not an arbitrary one. Shuffle bounded by
    |pair nodes| (+ one max_by agg over cluster members when scoring),
    never |df|²; documents outside the pair graph pass through
    untouched."""
    clusters = near_dup_clusters(pairs, id_a=id_a, id_b=id_b, max_iter=max_iter)
    if score_col is None:
        losers = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select(
            F.col("doc_id").alias(id_col)
        )
    else:
        scored = clusters.join(
            df.select(F.col(id_col).alias("doc_id"), F.col(score_col).alias("__s")),
            on="doc_id",
        )
        # keep = argmax(score) per cluster, ties to the lowest id:
        # min_by over (−score, id) is one partial-aggregating pass and
        # leaves the id type free (string ids can't be negated)
        best = scored.groupBy("cluster_id").agg(
            F.min_by(
                "doc_id",
                F.struct((-F.col("__s")).alias("ns"), F.col("doc_id").alias("i")),
            ).alias("__keep")
        )
        losers = (
            scored.join(best, on="cluster_id")
            .filter(F.col("doc_id") != F.col("__keep"))
            .select(F.col("doc_id").alias(id_col))
        )
    return df.join(losers, on=id_col, how="left_anti")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT — ``|A∩B| / |A|`` per direction —
    for pairs sharing ≥1 shingle: the quote/subset detector Jaccard
    misses (a short document fully embedded in a long one has low
    Jaccard but containment 1.0; the standard signal for excerpt
    duplication and quotation laundering in training corpora).

    Same shingle overlaps and stop-shingle df cap as
    :func:`ngram_jaccard_pairs` (cap applied consistently to both the
    intersection and the size sides). Emits (id_a, id_b, containment_a,
    containment_b, jaccard) for pairs whose LARGER directional
    containment clears ``threshold``; id_a < id_b."""
    inter, na, nb = F.col("__inter"), F.col("__na"), F.col("__nb")
    return (
        _shingle_overlaps(df, id_col, text_col, n, max_shingle_df)
        .select(
            "id_a",
            "id_b",
            (inter / na).alias("containment_a"),
            (inter / nb).alias("containment_b"),
            (inter / (na + nb - inter)).alias("jaccard"),
        )
        .filter(F.greatest("containment_a", "containment_b") >= threshold)
    )


def dedup_conversations(
    df: DataFrame,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Conversation-level exact dedup: two conversations are duplicates
    iff their RENDERED transcripts (turns in ``idx_col`` order as
    ``role: text``) are byte-identical — the re-ingested-under-a-new-id
    artifact a turn-level or document-level dedup cannot see. Keeps the
    min-``entity_col`` conversation per rendered form and returns the
    surviving TURN rows (all columns intact).

    Physical shape: one render aggregation (|conversations| rows) → one
    min-entity agg per rendered hash → semi join back on the entity key;
    the corpus itself shuffles once on ``entity_col``."""
    from featureengineer_spark.operators.curation import render_conversations

    rendered = render_conversations(
        df, entity_col=entity_col, idx_col=idx_col,
        role_col=role_col, text_col=text_col,
    ).select(entity_col, F.md5("rendered").alias("__rh"))
    keep = rendered.groupBy("__rh").agg(
        F.min(entity_col).alias(entity_col)
    ).select(entity_col)
    return df.join(keep, on=entity_col, how="left_semi")
