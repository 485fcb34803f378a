"""Skew handling for mega-conversations (W2/X5 graft).

The reference batches "very long signals" explicitly to bound memory
(``FeaGet.py:211-217``) and splits sessions across MPI ranks with
``numpy.array_split`` (``mpiIV.py:160,282``). In Spark, per-entity window
functions and grouped-map UDFs put ALL rows of one entity in one task —
a single 10^7-turn conversation serializes the stage. AQE's skew-join
splitting does not apply to window/grouped-map stages, so we salt
explicitly:

* bounded windows (rolling counts over last k turns) → chunk each entity
  by ``turn_idx`` range and REPLICATE the trailing ``k-1`` boundary rows
  into the next chunk ("carry-in"); compute per (entity, chunk), emit only
  non-carry rows. Exact, pure DataFrame ops, parallelism = #chunks.
* unbounded running aggregates (cumsum) → classic two-pass distributed
  prefix scan: per-chunk partials + a tiny per-entity scan over chunk
  totals joined back.

Both keep the secondary ``turn_idx`` sort inside each chunk, per the
north rule.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def detect_heavy_keys(
    df: DataFrame,
    key: str = "conv_id",
    threshold: int = 100_000,
    sample_denominator: int | None = None,
    seed: int = 97,
) -> DataFrame:
    """Entities whose row count exceeds ``threshold`` (heavy hitters).

    Exact form: one partial+final count agg. With ``sample_denominator``
    = D, the probe counts only a 1/D hash-sample of rows and scales the
    threshold — at 10¹² rows the exact probe is itself a full-size
    aggregation, while a heavy key (≥ threshold rows) appears ≥
    threshold/D times in the sample with relative error
    ~1/√(threshold/D); D = threshold/10⁴ keeps the error under ~1%.
    The hash basis includes a per-row unique id — hashing only the
    column values would give all copies of an exactly-duplicated row one
    shared all-or-nothing sampling decision, biasing counts for keys
    with heavy row duplication. (This makes the sampled probe
    nondeterministic across runs; the router only needs the yes/no set,
    which is robust to the sampling noise by construction — borderline
    keys are fine on either path, results are exactly equal.) Sampling
    by row (not by key) so every key is observable. Callers route heavy
    keys to the salted path and the rest to plain windows.
    """
    if sample_denominator and sample_denominator > 1:
        cols = [F.col(c) for c in df.columns]
        sampled = df.withColumn("__rowid", F.monotonically_increasing_id()).filter(
            F.pmod(
                F.xxhash64(F.lit(seed), F.col("__rowid"), *cols),
                F.lit(sample_denominator),
            )
            == 0
        )
        scaled = max(threshold // sample_denominator, 1)
        return (
            sampled.groupBy(key)
            .count()
            .filter(F.col("count") > scaled)
            .select(key, (F.col("count") * sample_denominator).alias("count"))
        )
    return df.groupBy(key).count().filter(F.col("count") > threshold)


#: context-lifetime memo for the auto-routers' heavy-key probe:
#: (context token, plan semanticHash, key, threshold,
#: sample_denominator) → bool. N auto ops over the same table fire ONE
#: probe job, not N, across every session of one SparkContext (the
#: per-call child sessions of ``sources.io.read_clustered`` included).
#: The token comes from ``session.probe_token`` — stable, never reused
#: after GC (``id()`` can be).
_HEAVY_PROBE_CACHE: dict[tuple, bool] = {}
_HEAVY_PROBE_CACHE_MAX = 256


def has_heavy_keys(
    df: DataFrame,
    key: str = "conv_id",
    threshold: int = 100_000,
    sample_denominator: int | None = None,
    use_cache: bool = True,
) -> bool:
    """Driver-side boolean the auto-routers branch on: does any entity
    exceed ``threshold`` rows? Memoized per (SparkContext, analyzed-plan
    ``semanticHash``, key, threshold, denominator), so repeated auto
    calls on the same plan cost one probe job per context, whichever
    session built the plan. The memo keys on the logical plan, not the
    data: for a table whose files are rewritten under the same path
    while the context lives, the verdict can be stale. A stale verdict
    changes only the route an auto-router takes, never its rows (the
    salted and plain paths are exactly equal); pass ``use_cache=False``
    to re-probe anyway."""
    return _heavy_verdict(df, key, threshold, sample_denominator, use_cache)[0]


def _heavy_verdict(
    df: DataFrame,
    key: str,
    threshold: int,
    sample_denominator: int | None,
    use_cache: bool = True,
) -> tuple[bool, str]:
    """:func:`has_heavy_keys` plus what answered it: ``"memo"`` or
    ``"probe"`` (a Spark job ran)."""
    from featureengineer_spark.session import probe_token

    ck = (
        probe_token(df.sparkSession),
        df.semanticHash(),
        key,
        int(threshold),
        sample_denominator,
    )
    if use_cache and ck in _HEAVY_PROBE_CACHE:
        return _HEAVY_PROBE_CACHE[ck], "memo"
    out = bool(
        detect_heavy_keys(
            df, key=key, threshold=threshold, sample_denominator=sample_denominator
        )
        .limit(1)
        .count()
    )
    if use_cache:
        if len(_HEAVY_PROBE_CACHE) >= _HEAVY_PROBE_CACHE_MAX:
            _HEAVY_PROBE_CACHE.pop(next(iter(_HEAVY_PROBE_CACHE)))
        _HEAVY_PROBE_CACHE[ck] = out
    return out, "probe"


def salted_rolling_counts(
    df: DataFrame,
    predicates: dict[str, Column],
    window: int = 10,
    chunk_size: int = 65536,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
) -> DataFrame:
    """Rolling conditional counts with salted parallelism.

    Exact same result as ``with_rolling_counts`` but a mega-conversation
    of N turns runs as ``ceil(N / chunk_size)`` parallel tasks instead of
    one. Requires contiguous ``idx_col`` within each entity (the engine's
    turn_idx invariant). ``window <= chunk_size`` required (carry-in rows
    come only from the immediately preceding chunk).
    """
    if window > chunk_size:
        raise ValueError("window must be <= chunk_size")
    chunk = (F.col(idx_col).cast("long") / chunk_size).cast("long")
    own = df.withColumn("__chunk", chunk).withColumn("__carry", F.lit(False))
    carry = (
        df.withColumn("__chunk", chunk + 1)
        .withColumn("__carry", F.lit(True))
        .filter(F.col(idx_col).cast("long") % chunk_size >= chunk_size - (window - 1))
    )
    unioned = own.unionByName(carry)
    w = (
        Window.partitionBy(entity_col, "__chunk")
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(window - 1), 0)
    )
    out = unioned
    for name, pred in predicates.items():
        out = out.withColumn(name, F.sum(F.when(pred, 1).otherwise(0)).over(w))
    return out.filter(~F.col("__carry")).drop("__chunk", "__carry")


def salted_cumulative(
    df: DataFrame,
    cols: dict[str, Column],
    chunk_size: int = 65536,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
) -> DataFrame:
    """Running sums via a two-pass distributed prefix scan.

    Pass 1: within-chunk running sums (parallel over chunks).
    Pass 2: exclusive scan over per-chunk totals (tiny — #chunks rows per
    entity) joined back as an offset. Exact equivalent of
    ``with_cumulative`` with bounded task size.
    """
    chunk = (F.col(idx_col).cast("long") / chunk_size).cast("long")
    named = {name: expr for name, expr in cols.items()}
    base = df.withColumn("__chunk", chunk)
    for name, expr in named.items():
        base = base.withColumn(f"__v_{name}", expr)

    w_in = (
        Window.partitionBy(entity_col, "__chunk")
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for name in named:
        base = base.withColumn(f"__local_{name}", F.sum(f"__v_{name}").over(w_in))

    totals = base.groupBy(entity_col, "__chunk").agg(
        *[F.sum(f"__v_{name}").alias(f"__tot_{name}") for name in named]
    )
    w_scan = (
        Window.partitionBy(entity_col)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        entity_col,
        "__chunk",
        *[
            F.coalesce(F.sum(f"__tot_{name}").over(w_scan), F.lit(0)).alias(f"__off_{name}")
            for name in named
        ],
    )
    joined = base.join(offsets, on=[entity_col, "__chunk"], how="inner")
    for name in named:
        joined = joined.withColumn(name, F.col(f"__local_{name}") + F.col(f"__off_{name}"))
    drop = ["__chunk"] + [f"__{p}_{n}" for n in named for p in ("v", "local", "off")]
    return joined.drop(*drop)


def salted_session_ids(
    df: DataFrame,
    idle_timeout_s: float = 1800.0,
    chunk_size: int = 65536,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    out_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization with salted parallelism (two-pass scan).

    Pass 1 computes per-chunk new-session flags (the chunk-boundary gap
    uses a carried last-ts from the previous chunk, obtained by
    replicating each chunk's last row forward — same carry-in trick as
    ``salted_rolling_counts``); pass 2 is the distributed prefix sum of
    flags via ``salted_cumulative``. Exact equivalent of
    ``with_session_ids`` with bounded task size.
    """
    from featureengineer_spark.functions.scalars import epoch_micros

    chunk = (F.col(idx_col).cast("long") / chunk_size).cast("long")
    own = df.withColumn("__chunk", chunk).withColumn("__carry", F.lit(False))
    carry = (
        df.withColumn("__chunk", chunk + 1)
        .withColumn("__carry", F.lit(True))
        .filter(F.col(idx_col).cast("long") % chunk_size == chunk_size - 1)
    )
    unioned = own.unionByName(carry)
    w = Window.partitionBy(entity_col, "__chunk").orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    gap = (epoch_micros(F.col(ts_col)) - epoch_micros(F.lag(F.col(ts_col)).over(w))) / 1e6
    flagged = (
        unioned.withColumn(
            "__flag", F.when(gap > idle_timeout_s, F.lit(1)).otherwise(F.lit(0))
        )
        .filter(~F.col("__carry"))
        .drop("__chunk", "__carry")
    )
    out = salted_cumulative(
        flagged,
        {out_col: F.col("__flag")},
        chunk_size=chunk_size,
        entity_col=entity_col,
        idx_col=idx_col,
        order_cols=order_cols,
    )
    return out.withColumn(out_col, F.col(out_col).cast("long")).drop("__flag")


def salted_backfill(
    df: DataFrame,
    col: str,
    chunk_size: int = 65536,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    out_col: str | None = None,
) -> DataFrame:
    """last-non-null forward fill with salted parallelism.

    Pass 1: within-chunk backfill + per-chunk last non-null value.
    Pass 2: per-entity backfill OVER the tiny chunk-summary table gives
    each chunk its carry-in, joined back to fill leading nulls. Exact
    equivalent of ``with_backfill`` with bounded task size.
    """
    out_name = out_col or f"{col}_backfilled"
    chunk = (F.col(idx_col).cast("long") / chunk_size).cast("long")
    base = df.withColumn("__chunk", chunk)
    w_in = (
        Window.partitionBy(entity_col, "__chunk")
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = base.withColumn("__local_fill", F.last(col, ignorenulls=True).over(w_in))

    chunk_last = base.groupBy(entity_col, "__chunk").agg(
        F.max(
            F.when(
                F.col(col).isNotNull(),
                F.struct(*[F.col(c).alias(f"o_{c}") for c in order_cols], F.col(col).alias("v")),
            )
        ).alias("__last_struct")
    )
    w_scan = (
        Window.partitionBy(entity_col)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = chunk_last.select(
        entity_col,
        "__chunk",
        F.last("__last_struct", ignorenulls=True).over(w_scan)["v"].alias("__carry_val"),
    )
    joined = local.join(carries, on=[entity_col, "__chunk"], how="left")
    return joined.withColumn(
        out_name, F.coalesce(F.col("__local_fill"), F.col("__carry_val"))
    ).drop("__chunk", "__local_fill", "__carry_val")


def rolling_counts_auto(
    df: DataFrame,
    predicates: dict[str, Column],
    window: int = 10,
    heavy_threshold: int = 1_000_000,
    chunk_size: int = 65536,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
) -> DataFrame:
    """Skew-aware rolling counts: one cheap count-agg decides whether any
    entity exceeds ``heavy_threshold`` rows; if so the whole input takes
    the salted path (exact same results), else plain windows (one fewer
    pass). The decision is a driver-side boolean — the graft of the
    reference's manual very-long-signal special-casing made automatic.
    """
    from featureengineer_spark.operators.windows import with_rolling_counts

    has_heavy = has_heavy_keys(df, key=entity_col, threshold=heavy_threshold)
    if has_heavy:
        return salted_rolling_counts(
            df, predicates, window=window, chunk_size=chunk_size,
            entity_col=entity_col, idx_col=idx_col, order_cols=order_cols,
        )
    return with_rolling_counts(
        df, predicates, window=window, entity_col=entity_col, order_cols=order_cols
    )


def salted_bounded_window(
    df: DataFrame,
    apply_fn,
    before: int,
    after: int = 0,
    chunk_size: int = 65536,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
) -> DataFrame:
    """Generic salted evaluation of ANY bounded per-entity window.

    ``apply_fn(df, window_spec) -> df`` adds its columns over the given
    spec; here the spec is partitioned by ``(entity, chunk)`` and each
    chunk is padded with the previous chunk's trailing ``before`` rows
    AND the next chunk's leading ``after`` rows (replicated carry rows,
    dropped from the output). Any window function whose frame (or
    lag/lead offset) stays within ``[-before, +after]`` is computed
    EXACTLY, with task size bounded by ``chunk_size + before + after``
    instead of the entity length — the W2/X5 mega-conversation graft
    generalized from ``salted_rolling_counts``.

    Requires contiguous ``idx_col`` per entity and
    ``max(before, after) <= chunk_size``.
    """
    if max(before, after) > chunk_size:
        raise ValueError("carry width must be <= chunk_size")
    chunk = (F.col(idx_col).cast("long") / chunk_size).cast("long")
    pos = F.col(idx_col).cast("long") % chunk_size
    own = df.withColumn("__chunk", chunk).withColumn("__carry", F.lit(False))
    parts = [own]
    if before > 0:
        parts.append(
            df.withColumn("__chunk", chunk + 1)
            .withColumn("__carry", F.lit(True))
            .filter(pos >= chunk_size - before)
        )
    if after > 0:
        parts.append(
            df.withColumn("__chunk", chunk - 1)
            .withColumn("__carry", F.lit(True))
            .filter(pos < after)
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    w = Window.partitionBy(entity_col, "__chunk").orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    out = apply_fn(unioned, w)
    return out.filter(~F.col("__carry")).drop("__chunk", "__carry")


def salted_lags(
    df: DataFrame,
    cols: Sequence[str],
    offsets: Sequence[int] = (1,),
    leads: bool = True,
    chunk_size: int = 65536,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
) -> DataFrame:
    """``with_lags`` with the mega-entity path — exact equivalent."""
    m = max(offsets)

    def apply_fn(d, w):
        for c in cols:
            for n in offsets:
                d = d.withColumn(f"lag{n}_{c}", F.lag(c, n).over(w))
                if leads:
                    d = d.withColumn(f"lead{n}_{c}", F.lead(c, n).over(w))
        return d

    return salted_bounded_window(
        df, apply_fn, before=m, after=m if leads else 0,
        chunk_size=chunk_size, entity_col=entity_col, idx_col=idx_col,
        order_cols=order_cols,
    )


def salted_sliding_norm(
    df: DataFrame,
    col: str,
    win: int = 301,
    center: bool = False,
    chunk_size: int = 65536,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    out_col: str | None = None,
) -> DataFrame:
    """``with_sliding_norm`` with the mega-entity path — exact equivalent."""
    half = (win - 1) // 2
    frame = (-half, half) if center else (-(win - 1), 0)

    def apply_fn(d, w):
        ww = w.rowsBetween(*frame)
        mu = F.avg(col).over(ww)
        sd = F.stddev_samp(col).over(ww)
        return d.withColumn(
            out_col or f"{col}_slidnorm",
            F.when(sd > 0, (F.col(col) - mu) / sd).otherwise(F.lit(0.0)),
        )

    return salted_bounded_window(
        df, apply_fn, before=-frame[0], after=frame[1],
        chunk_size=chunk_size, entity_col=entity_col, idx_col=idx_col,
        order_cols=order_cols,
    )


def salted_ewma(
    df: DataFrame,
    col: str,
    alpha: float = 0.2,
    chunk_size: int = 65536,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    out_col: str | None = None,
) -> DataFrame:
    """First-order IIR (EWMA, adjust=False) with the mega-entity path —
    the last sequential-scan operator to get a salted twin (W5/W2).

    The recurrence y_p = (1−α)y_{p−1} + α·x_p decomposes exactly:

    1. per (entity, chunk) grouped map (task size ≤ chunk_size): the
       zero-carry partial L_p = α·Σ_j (1−α)^{p−j} x_j, plus the chunk's
       (last L, length);
    2. per entity over the #chunks-row summary frame: the carry
       recurrence y_last_c = L_last_c + (1−α)^{m_c}·carry_c with
       carry_1 = first x of the entity (pandas ewm's y_0 = x_0 seed);
    3. join carries back: y_p = L_p + (1−α)^p·carry_chunk — exact.
    """
    import pandas as pd
    from pyspark.sql import types as T

    name = out_col or f"{col}_ewma"
    chunk = (F.col(idx_col).cast("long") / chunk_size).cast("long")
    base = df.withColumn("__chunk", chunk)
    sort_cols = list(order_cols)

    local_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("__chunk", T.LongType(), False),
            T.StructField("__local", T.DoubleType(), True),
            T.StructField("__pos", T.IntegerType(), False),
        ]
    )

    def local_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        # virtual leading zero makes ewm compute the ZERO-carry partial
        seeded = pd.concat([pd.Series([0.0]), pdf[col].astype("float64")], ignore_index=True)
        pdf["__local"] = (
            seeded.ewm(alpha=alpha, adjust=False).mean().iloc[1:].reset_index(drop=True)
        )
        pdf["__pos"] = range(1, len(pdf) + 1)
        return pdf

    local = base.groupBy(entity_col, "__chunk").applyInPandas(local_fn, schema=local_schema)

    summaries = local.groupBy(entity_col, "__chunk").agg(
        F.max(F.struct("__pos", "__local"))["__local"].alias("__last_l"),
        F.count("*").alias("__m"),
        F.min(F.struct(*[F.col(c) for c in sort_cols], F.col(col).cast("double").alias("v")))[
            "v"
        ].alias("__first_x"),
    )

    carry_schema = T.StructType(
        [
            T.StructField(entity_col, df.schema[entity_col].dataType),
            T.StructField("__chunk", T.LongType(), False),
            T.StructField("__carry", T.DoubleType(), True),
        ]
    )

    def carry_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__chunk").reset_index(drop=True)
        carries = []
        carry = float(pdf["__first_x"].iloc[0])  # pandas ewm seed y_0 = x_0
        for _, row in pdf.iterrows():
            carries.append(carry)
            carry = float(row["__last_l"]) + (1.0 - alpha) ** int(row["__m"]) * carry
        pdf["__carry"] = carries
        return pdf[[entity_col, "__chunk", "__carry"]]

    carries = summaries.groupBy(entity_col).applyInPandas(carry_fn, schema=carry_schema)

    joined = local.join(carries, on=[entity_col, "__chunk"], how="inner")
    decay = F.pow(F.lit(1.0 - alpha), F.col("__pos").cast("double"))
    return joined.withColumn(name, F.col("__local") + decay * F.col("__carry")).drop(
        "__chunk", "__local", "__pos", "__carry"
    )


def salted_iir(
    df: DataFrame,
    col: str,
    b: Sequence[float],
    a: Sequence[float] = (1.0,),
    chunk_size: int = 65536,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    out_col: str | None = None,
    tol: float = 1e-14,
) -> DataFrame:
    """General ARMA filter (``with_iir``) with the mega-entity path.

    ``with_iir`` already collapses the IIR recursion to a convolution
    with the driver-precomputed truncated impulse response h — a
    BOUNDED backward-looking op of depth len(h)−1. The salted twin is
    therefore the standard carry-in decomposition: rows in the last
    len(h)−1 positions of each chunk are duplicated into the next chunk
    as left context, each (entity, chunk) group convolves
    independently, carry rows are dropped. Exactly the same truncated
    convolution as the unsalted form. Requires contiguous ``idx_col``
    (the engine's turn_idx invariant) and len(h)−1 ≤ chunk_size.
    """
    import numpy as np
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    from featureengineer_spark.operators.windows import (
        _causal_conv,
        iir_impulse_response,
    )

    h = iir_impulse_response(b, a, tol=tol)
    depth = len(h) - 1
    if depth > chunk_size:
        raise ValueError(
            f"impulse response depth {depth} exceeds chunk_size {chunk_size}; "
            "raise chunk_size or loosen tol"
        )
    name = out_col or f"{col}_iir"
    chunk = (F.col(idx_col).cast("long") / chunk_size).cast("long")
    own = df.withColumn("__chunk", chunk).withColumn("__carry", F.lit(False))
    carry = (
        df.withColumn("__chunk", chunk + 1)
        .withColumn("__carry", F.lit(True))
        .filter(F.col(idx_col).cast("long") % chunk_size >= chunk_size - depth)
    )
    unioned = own.unionByName(carry) if depth > 0 else own
    sort_cols = list(order_cols)

    out_schema = T.StructType(
        df.schema.fields + [T.StructField(name, T.DoubleType(), True)]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        x = pdf[col].to_numpy(dtype=np.float64, na_value=0.0)
        pdf[name] = _causal_conv(x, h)
        return pdf[~pdf["__carry"]].drop(columns=["__chunk", "__carry"])

    return unioned.groupBy(entity_col, "__chunk").applyInPandas(fn, schema=out_schema)


def salted_group_norm(
    df: DataFrame,
    cols: Sequence[str],
    entity_col: str = "conv_id",
) -> DataFrame:
    """Per-entity standardization via aggregate + join-back — the
    mega-entity form of ``with_group_norm`` (A3). The unordered entity
    window puts every row of an entity in ONE task; this form computes
    the per-entity moments with a partial+final hash agg (map-side
    combined) and joins them back, so both sides distribute over all
    partitions regardless of entity size. Exactly equal results."""
    aggs = []
    for c in cols:
        aggs.append(F.avg(c).alias(f"__mu_{c}"))
        aggs.append(F.stddev_samp(c).alias(f"__sd_{c}"))
    moments = df.groupBy(entity_col).agg(*aggs)
    out = df.join(moments, on=entity_col, how="inner")
    for c in cols:
        mu, sd = F.col(f"__mu_{c}"), F.col(f"__sd_{c}")
        out = out.withColumn(
            f"{c}_cmvn", F.when(sd > 0, (F.col(c) - mu) / sd).otherwise(F.lit(0.0))
        )
    return out.drop(*[f"__{p}_{c}" for c in cols for p in ("mu", "sd")])
