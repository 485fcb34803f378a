"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm, public).

Guarantee: any shared substring of at least w+k-1 words between two
documents yields at least one SHARED selected fingerprint, while only
~2/(w+1) of all k-gram hashes are kept — a contiguous-match detector
(quotes, plagiarism, boilerplate runs) that MinHash's bag-of-shingles
view cannot give, at a fraction of the signature cost. Reference
analog: the frame-window selection discipline of ``FeaGet.py:219-232``
(one representative per sliding window); here the window slides over
k-gram hashes and the representative is the window minimum.

Selection rule (the paper's, made join-friendly): with per-position
keys ``key_i = hash_i·2^22 + i`` (unique per doc, so every window has
ONE minimum — the paper's rightmost-tie rule is subsumed), the
fingerprint set is ``{ min(key_j, j ∈ [s, s+w-1]) : windows s }``,
deduplicated. That is exactly one sliding-window ``min`` — a single
window function over one sort, no Python, and replayable verbatim in
DuckDB (md5-prefix hashes, see ``dedup._md5_long``).

Scale shape: fingerprinting is one per-doc sort (partitioned by id —
parallel over docs); pair detection is the shared in-bucket pair
kernel keyed on the fingerprint hash (an inverted index) with a
hot-hash cap (``max_df``), never a cross-join. Positions are packed into 22 bits — documents beyond 2^22
k-grams (~4M words) should be pre-chunked (``curation.with_chunks``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featureengineer_spark.operators.dedup import _md5_long, normalize_text

_HASH_MOD = 1 << 40   # hash kept to 40 bits …
_POS_BITS = 1 << 22   # … positions to 22: key = hash·2^22 + pos < 2^62


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """(id, fp_hash, fp_pos) — the selected winnowing fingerprints.

    k = word-gram size (noise threshold: matches shorter than k words
    are never seen); w = window size (guarantee threshold t = w+k-1).
    Documents shorter than w grams emit exactly one fingerprint (the
    global minimum), so no document is invisible to the detector.
    """
    words = F.col("__w_win")
    n_grams = F.greatest(F.size(words) - (k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )
    exploded = (
        df.select(
            F.col(id_col),
            F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
            .alias("__w_win"),
        )
        .select(
            F.col(id_col),
            F.size(words).alias("__nw"),
            F.posexplode(grams).alias("pos", "gram"),
        )
        .withColumn("__ng", F.greatest(F.col("__nw") - (k - 1), F.lit(1)))
        .withColumn(
            "__key",
            (_md5_long(F.col("gram")) % _HASH_MOD) * _POS_BITS + F.col("pos"),
        )
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    selected = (
        exploded.withColumn("__wmin", F.min("__key").over(win))
        # full windows only; a short doc (n_grams < w) keeps window 0,
        # whose clipped frame is the whole doc → one global-min print
        .filter(F.col("pos") <= F.greatest(F.col("__ng") - w, F.lit(0)))
        .select(F.col(id_col), F.col("__wmin"))
        .distinct()
    )
    return selected.select(
        F.col(id_col),
        # integer div — a double division would lose bits above 2^53
        F.expr(f"__wmin div {_POS_BITS}").alias("fp_hash"),
        (F.col("__wmin") % _POS_BITS).cast("long").alias("fp_pos"),
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_df: int = 64,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints:
    (id_a, id_b, n_shared, overlap) with id_a < id_b and
    ``overlap = n_shared / min(|fp_a|, |fp_b|)``.

    Inverted index on ``fp_hash`` through the in-bucket pair kernel;
    hashes present in more than ``max_df`` documents (ubiquitous
    boilerplate grams) are skipped inside the kernel — the rows are
    distinct (id, fp_hash), so a bucket's row count IS the hash's
    document frequency — so no hot key can quadratically explode a
    bucket. ``|fp|`` counts every print, hot ones included.
    """
    from featureengineer_spark.operators.dedup import _bucket_pairs

    fps = winnow_fingerprints(
        df, id_col=id_col, text_col=text_col, k=k, w=w
    ).select(F.col(id_col), "fp_hash").distinct()
    sizes = fps.groupBy(id_col).agg(F.count("*").alias("__nfp"))
    pairs = _bucket_pairs(fps, id_col, ["fp_hash"], max_bucket=max_df).filter(
        F.col("n") >= min_shared
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__nfp").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__nfp").alias("__nb"))
    return (
        pairs.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n").alias("n_shared"),
            F.round(
                F.col("n") / F.least(F.col("__na"), F.col("__nb")), 6
            ).alias("overlap"),
        )
    )
