"""Windowed sequence operators over entity-keyed ordered event tables.

These are the Spark-native re-expressions of the reference's frame-sequence
kernels (SURVEY.md §2.5):

=====================  =============================================  ==========================
engine operator        reference concept                              reference evidence
=====================  =============================================  ==========================
with_lags              delta / double-delta across ±N frames          FeaGet.py:50-51,287-290
with_inter_turn_latency  frame shift grid / timing deltas             FeaGet.py:36-37
with_rolling_counts    stat0 per-window weighted counts               IVector.py:810-815
with_backfill          edge padding / label extension                 FeaGet.py:247-248
with_session_ids       VAD energy gap segmentation                    FeaGet.py:292-297
with_sliding_norm      cep_sliding_norm(win=301, center=True)         IVector.py:348
with_group_norm        per-utterance CMVN                             IVector.py:508-514
with_deltas            delta/double-delta numeric differences         FeaGet.py:287-290
with_cumulative        DET/EER cumulative sums                        jyh/result.py:48-59
=====================  =============================================  ==========================

All operators are pure ``Window`` expressions — zero Python UDFs, fully
inside whole-stage codegen. Every frame ends at ``Window.currentRow`` with
ordering on ``(ts, turn_idx)`` (or the caller's order columns) so no
feature ever reads a row later than its own — the temporal-leakage
discipline grafted from the reference's ``cep[start:stop]`` bounds
(``IVector.py:796-800``).

At cluster scale each operator induces exactly one hash-partition shuffle
on the entity key (and Spark reuses that exchange across consecutive
operators with the same partitioning), so chaining k operators costs one
shuffle, not k.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec


def turn_window(
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
) -> WindowSpec:
    """Canonical per-entity ordered window: partition by entity, order by
    ``(ts, turn_idx)`` — the "stable turn ordering" invariant from
    ``BASELINE.json:input_hint``."""
    return Window.partitionBy(entity_col).orderBy(*[F.col(c).asc() for c in order_cols])


def _q(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _over(
    entity_col: str, order_cols: Sequence[str], preceding: int | None = -1
) -> str:
    """SQL ``OVER`` clause of ``turn_window``, with a ``ROWS`` frame that
    ends at the current row and starts at the first row
    (``preceding=None``) or ``k >= 0`` rows back; ``-1`` adds no frame.

    The window operators build their columns as parsed SQL expressions:
    one ``expr`` per column costs a few Py4J round trips, while the
    Column API costs one per ``col``/``lag``/``when``/``lit``/``over``
    node, and plan building was the larger share of a small stack's
    cost."""
    order = ", ".join(f"{_q(c)} ASC" for c in order_cols)
    frame = ""
    if preceding is None:
        frame = " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    elif preceding >= 0:
        start = f"{preceding} PRECEDING" if preceding else "CURRENT ROW"
        frame = f" ROWS BETWEEN {start} AND CURRENT ROW"
    return f"OVER (PARTITION BY {_q(entity_col)} ORDER BY {order}{frame})"


def _gap_s(ts_col: str, over: str) -> str:
    """Seconds since the previous row's ``ts_col``: integer-microsecond
    subtraction, then scale (``functions.scalars.epoch_micros``; casting
    each timestamp to double first loses ~1e-7 s at 2024 epoch
    magnitudes)."""
    ts = _q(ts_col)
    return (
        f"(unix_micros(CAST({ts} AS TIMESTAMP))"
        f" - unix_micros(CAST(lag({ts}) {over} AS TIMESTAMP))) / 1e6"
    )


def with_lags(
    df: DataFrame,
    cols: Sequence[str],
    offsets: Sequence[int] = (1,),
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    leads: bool = True,
) -> DataFrame:
    """lag/lead feature columns — the delta/double-delta graft (W3).

    Adds ``lag{n}_{col}`` (and ``lead{n}_{col}`` when ``leads``) for each
    requested column and offset. Note leads read *future* rows by design;
    they must not feed point-in-time features (the leakage validator
    flags them) — they exist for offline label construction.
    """
    over = _over(entity_col, order_cols)
    new = {}
    for c in cols:
        for n in offsets:
            new[f"lag{n}_{c}"] = F.expr(f"lag({_q(c)}, {int(n)}) {over}")
            if leads:
                new[f"lead{n}_{c}"] = F.expr(f"lead({_q(c)}, {int(n)}) {over}")
    return df.withColumns(new)


def with_inter_turn_latency(
    df: DataFrame,
    ts_col: str = "ts",
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    out_col: str = "inter_turn_latency_s",
) -> DataFrame:
    """Seconds since the previous turn within the conversation."""
    return df.withColumn(out_col, F.expr(_gap_s(ts_col, _over(entity_col, order_cols))))


def with_rolling_counts(
    df: DataFrame,
    predicates: dict[str, Column],
    window: int = 10,
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
) -> DataFrame:
    """Rolling conditional counts over the last ``window`` turns (incl.
    current) — the stat0 sufficient-statistics graft (A4): per-window
    weighted counts of role/tool usage instead of per-mixture posteriors.

    ``predicates`` maps output column name → boolean Column, e.g.::

        {"rolling_assistant_turns_10": F.col("role") == "assistant"}
    """
    # predicates land in temporary columns so the window sums are parsed
    # SQL; one projection → Catalyst fuses all sums into ONE Window node
    # (sequential withColumn produces one Window pass per predicate)
    over = _over(entity_col, order_cols, preceding=window - 1)
    tmp = {f"__rc{i}": pred for i, pred in enumerate(predicates.values())}
    sums = [
        f"sum(CASE WHEN {t} THEN 1 ELSE 0 END) {over} AS {_q(name)}"
        for t, name in zip(tmp, predicates)
    ]
    return df.withColumns(tmp).selectExpr("*", *sums).drop(*tmp)


def default_rolling_predicates() -> dict[str, Column]:
    return {
        "rolling_user_turns_10": F.col("role") == "user",
        "rolling_assistant_turns_10": F.col("role") == "assistant",
        "rolling_tool_calls_10": F.col("tool").isNotNull(),
    }


def with_backfill(
    df: DataFrame,
    col: str = "tool",
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    out_col: str | None = None,
) -> DataFrame:
    """Forward-fill a sparse column with the last non-null value at or
    before the current row (W8 edge-padding graft). Frame ends at
    currentRow — never reads the future."""
    over = _over(entity_col, order_cols, preceding=None)
    return df.withColumn(out_col or f"{col}_backfilled", F.expr(f"last({_q(col)}, true) {over}"))


def with_session_ids(
    df: DataFrame,
    idle_timeout_s: float = 1800.0,
    ts_col: str = "ts",
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    out_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization (W6): a new session starts when the gap
    since the previous turn exceeds ``idle_timeout_s``. Session ids are
    0-based per entity.

    Graft of the reference's VAD energy segmentation — silence runs split
    a signal into speech segments (``FeaGet.py:292-297``); here idle gaps
    split a conversation into sessions.
    """
    gap = _gap_s(ts_col, _over(entity_col, order_cols))
    # the exact double, as a string cast: a bare ``1800.0`` parses as DECIMAL
    idle = f"CAST('{float(idle_timeout_s)!r}' AS DOUBLE)"
    is_new = f"CASE WHEN {gap} > {idle} THEN 1 ELSE 0 END"
    running = f"CAST(sum(`_new_sess`) {_over(entity_col, order_cols, preceding=None)} AS BIGINT)"
    return (
        df.withColumn("_new_sess", F.expr(is_new))
        .withColumn(out_col, F.expr(running))
        .drop("_new_sess")
    )


def with_sliding_norm(
    df: DataFrame,
    col: str,
    win: int = 301,
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    center: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Rolling standardization (W4 — ``cep_sliding_norm(win=301)``,
    IVector.py:348). Default is *trailing* (leakage-safe); ``center=True``
    reproduces the reference's centered window for offline parity runs —
    the output column is then TAGGED non-causal in schema metadata
    (``validation.NON_CAUSAL_KEY``) so the as-of/PIT operators refuse it
    as a feature value (their ``assert_causal`` guard).
    """
    from featureengineer_spark.validation import NON_CAUSAL_KEY

    half = (win - 1) // 2
    frame = (-half, half) if center else (-(win - 1), 0)
    w = turn_window(entity_col, order_cols).rowsBetween(*frame)
    mu = F.avg(col).over(w)
    sd = F.stddev_samp(col).over(w)
    name = out_col or f"{col}_slidnorm"
    expr = F.when(sd > 0, (F.col(col) - mu) / sd).otherwise(F.lit(0.0))
    if center:
        expr = expr.alias(name, metadata={NON_CAUSAL_KEY: True})
    return df.withColumn(name, expr)


def with_group_norm(
    df: DataFrame,
    cols: Sequence[str],
    entity_col: str = "conv_id",
) -> DataFrame:
    """Per-conversation standardization — the per-utterance CMVN graft
    (A3, ``IVector.py:508-514``): group agg + broadcastable join back.
    Uses an unordered entity window (one shuffle, no sort-by-ts needed
    beyond what siblings already induce)."""
    w = Window.partitionBy(entity_col)
    out = df
    for c in cols:
        mu = F.avg(c).over(w)
        sd = F.stddev_samp(c).over(w)
        out = out.withColumn(
            f"{c}_cmvn", F.when(sd > 0, (F.col(c) - mu) / sd).otherwise(F.lit(0.0))
        )
    return out


def with_deltas(
    df: DataFrame,
    col: str,
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
) -> DataFrame:
    """First and second backward differences — delta / double-delta
    (W3, ``FeaGet.py:287-290``), leakage-safe (backward-looking only)."""
    w = turn_window(entity_col, order_cols)
    d1 = F.col(col) - F.lag(col, 1).over(w)
    out = df.withColumn(f"{col}_delta", d1)
    w2 = turn_window(entity_col, order_cols)
    return out.withColumn(
        f"{col}_delta2", F.col(f"{col}_delta") - F.lag(f"{col}_delta", 1).over(w2)
    )


def with_cumulative(
    df: DataFrame,
    cols: dict[str, Column],
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
) -> DataFrame:
    """Running sums from the start of the conversation (A11 cumulative-sum
    graft, ``jyh/result.py:48-59``)."""
    w = turn_window(entity_col, order_cols).rowsBetween(Window.unboundedPreceding, 0)
    return df.select(
        "*", *[F.sum(expr).over(w).alias(name) for name, expr in cols.items()]
    )


def with_ewma(
    df: DataFrame,
    col: str,
    alpha: float = 0.2,
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    out_col: str | None = None,
) -> DataFrame:
    """Exponentially-weighted moving average per entity — the first-order
    IIR temporal filter graft (W5: RASTA band-pass, ``FeaGet.py:52``).

    A linear recurrence needs a sequential scan within each ordered
    group, which no Window frame expresses; implemented as a grouped-map
    pandas kernel using the C-vectorized ``Series.ewm`` (adjust=False:
    y[t] = (1-α)·y[t-1] + α·x[t]). Leakage-safe (backward-looking).
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    name = out_col or f"{col}_ewma"
    fields = df.schema.fields + [T.StructField(name, T.DoubleType(), True)]
    schema = T.StructType(fields)
    sort_cols = list(order_cols)

    def fn(pdf):
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        pdf[name] = pdf[col].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    return df.groupBy(entity_col).applyInPandas(fn, schema=schema)


#: The RASTA band-pass (Hermansky & Morgan, "RASTA Processing of Speech",
#: IEEE TSAP 1994; the public rastamat coefficients): a 4-tap FIR ramp
#: over a single-pole AR — the reference applies it per utterance
#: (``FeaGet.py:52``, ``rasta=True``). Pole 0.94 → impulse response
#: decays below 1e-14 within ~530 taps.
RASTA_B = (0.2, 0.1, 0.0, -0.1, -0.2)
RASTA_A = (1.0, -0.94)


def iir_impulse_response(
    b: Sequence[float],
    a: Sequence[float] = (1.0,),
    tol: float = 1e-14,
    max_len: int = 1 << 20,
):
    """Truncated impulse response of the rational filter (b, a).

    Runs ONCE on the driver (O(len) scalar recursion — never per row).
    For a STABLE filter (all poles strictly inside the unit circle) the
    response decays geometrically; truncation where the tail stays below
    ``tol``·peak makes ``lfilter(b, a, x)`` equal ``conv(x, h)`` to
    within tol·‖x‖₁ — which turns the sequential IIR recursion into a
    fully vectorizable convolution. Raises for unstable/marginal filters
    (no decay within ``max_len``)."""
    import numpy as np

    b = np.asarray(b, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    if a.size == 0 or a[0] == 0.0:
        raise ValueError("a[0] must be nonzero")
    b, a = b / a[0], a / a[0]
    q = a.size - 1
    if q == 0:
        return b.copy()
    h: list[float] = []
    state = np.zeros(q)
    peak = 0.0
    quiet_needed = max(q, 8)
    quiet = 0
    for t in range(max_len):
        acc = float(b[t]) if t < b.size else 0.0
        acc -= float(a[1:] @ state)
        h.append(acc)
        state[1:] = state[:-1]
        state[0] = acc
        peak = max(peak, abs(acc))
        if t >= b.size - 1 and abs(acc) <= tol * max(peak, 1e-300):
            quiet += 1
            if quiet >= quiet_needed:
                return np.asarray(h[: len(h) - quiet + 1])
        else:
            quiet = 0
    raise ValueError(
        f"impulse response did not decay below tol={tol} within {max_len} "
        "samples — filter looks unstable or marginal; with_iir requires "
        "all poles strictly inside the unit circle"
    )


def _causal_conv(x, h):
    """y[t] = Σ_j h[j]·x[t−j] — direct for short products, FFT for long."""
    import numpy as np

    n = x.shape[0]
    if n * h.shape[0] <= 1 << 22:
        return np.convolve(x, h)[:n]
    m = n + h.shape[0] - 1
    nfft = 1 << (m - 1).bit_length()
    return np.fft.irfft(np.fft.rfft(x, nfft) * np.fft.rfft(h, nfft), nfft)[:n]


def with_iir(
    df: DataFrame,
    col: str,
    b: Sequence[float],
    a: Sequence[float] = (1.0,),
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    out_col: str | None = None,
    tol: float = 1e-14,
) -> DataFrame:
    """General per-entity ARMA (IIR) temporal filter — the full W5 graft
    (RASTA band-pass, ``FeaGet.py:52``, ``IVector.py:258``):
    ``a[0]·y[t] = Σᵢ b[i]·x[t−i] − Σⱼ₌₁ a[j]·y[t−j]`` with zero initial
    state, i.e. ``scipy.signal.lfilter(b, a, x)`` semantics without the
    scipy dependency. Pass ``RASTA_B, RASTA_A`` for the reference's
    filter; ``with_ewma`` remains the x₀-seeded first-order special
    case.

    The filter must be stable: the recursion is replaced by one
    C-vectorized convolution with the driver-precomputed truncated
    impulse response per group (no per-row Python, no sequential scan).
    Null inputs are treated as 0.0. Leakage-safe (strictly causal).
    """
    import numpy as np
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    h = iir_impulse_response(b, a, tol=tol)
    name = out_col or f"{col}_iir"
    fields = df.schema.fields + [T.StructField(name, T.DoubleType(), True)]
    schema = T.StructType(fields)
    sort_cols = list(order_cols)

    def fn(pdf):
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        x = pdf[col].to_numpy(dtype=np.float64, na_value=0.0)
        pdf[name] = _causal_conv(x, h)
        return pdf

    return df.groupBy(entity_col).applyInPandas(fn, schema=schema)


def with_deterministic_crop(
    df: DataFrame,
    length: int,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    salt: int = 2654435761,
    tile: bool = False,
    entity_key: Column | None = None,
) -> DataFrame:
    """Fixed-length contiguous crop per entity at a deterministic,
    hash-derived offset — the seeded random fixed-length crop graft
    (W7, ``DataInteger.py:383-388``) made reproducible: offset =
    hash(entity) mod (n - length + 1).

    ``tile=False``: entities shorter than ``length`` are returned whole.
    ``tile=True``: short entities are TILED — rows repeated cyclically to
    exactly ``length`` rows (the reference's short-sequence handling,
    ``DataInteger.py:417-428``) — and a ``crop_pos`` column (0..length-1)
    gives the output position; every entity then yields exactly
    ``length`` rows. Pure window + explode — no UDF.

    ``entity_key``: optional numeric column replacing the xxhash64 offset
    derivation with ``(key·salt) mod span`` — an arithmetic form any SQL
    oracle can reproduce (xxhash64 cannot be replayed in DuckDB).
    """
    w = turn_window(entity_col, order_cols)
    wc = Window.partitionBy(entity_col)
    rn = F.row_number().over(w)
    n = F.count("*").over(wc)
    span = F.greatest(n - length + 1, F.lit(1))
    if entity_key is not None:
        off = F.pmod(entity_key.cast("long") * F.lit(salt), span.cast("long"))
    else:
        off = F.pmod(F.xxhash64(F.lit(salt), F.col(entity_col)), span)
    if not tile:
        return (
            df.withColumn("__rn", rn)
            .withColumn("__off", off)
            .filter((F.col("__rn") > F.col("__off")) & (F.col("__rn") <= F.col("__off") + length))
            .drop("__rn", "__off")
        )
    base = df.withColumn("__rn", rn).withColumn("__n", n).withColumn("__off", off)
    reps = F.when(F.col("__n") >= length, F.lit(1)).otherwise(
        F.ceil(F.lit(length) / F.col("__n")).cast("int")
    )
    out = base.select(
        *df.columns,
        "__rn",
        "__n",
        "__off",
        F.explode(F.sequence(F.lit(0), reps - 1)).alias("__r"),
    )
    pos = F.when(
        F.col("__n") >= length, F.col("__rn") - 1 - F.col("__off")
    ).otherwise(F.col("__rn") - 1 + F.col("__r") * F.col("__n"))
    return (
        out.withColumn("crop_pos", pos.cast("int"))
        .filter((F.col("crop_pos") >= 0) & (F.col("crop_pos") < length))
        .drop("__rn", "__n", "__off", "__r")
    )


def holdout_split(
    df: DataFrame,
    entity_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts", "turn_idx"),
    n_holdout: int = 1,
    out_col: str = "split",
) -> DataFrame:
    """Per-entity train/holdout split: the last ``n_holdout`` rows of each
    entity (under stable turn ordering) become ``holdout``, the rest
    ``train`` — the reference's enroll/test discipline (one utterance held
    out per speaker, ``PrepareData.py:36-64``) as a window expression.
    Leakage-safe by construction: holdout rows are strictly later than
    every train row of the same entity."""
    w = Window.partitionBy(entity_col).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    rn = F.row_number().over(w)
    return df.withColumn(
        out_col, F.when(rn <= n_holdout, F.lit("holdout")).otherwise(F.lit("train"))
    )


def with_time_features(df, ts_col: str = "ts", prefix: str = "") -> "DataFrame":
    """Calendar/cyclic encodings of an event timestamp — the standard
    temporal feature block every (conv_id, ts)-keyed model consumes:

    * ``hour`` (0–23), ``weekday`` (0=Monday … 6=Sunday), ``is_weekend``
    * ``sin_hour``/``cos_hour`` and ``sin_weekday``/``cos_weekday`` —
      cyclic encodings so 23:00 and 00:00 are neighbors (a raw hour
      column puts them 23 apart)

    Pure map-side expressions (zero shuffle, whole-stage codegen) and
    strictly causal (each row reads only its own timestamp), so the
    columns are safe feature inputs for the as-of joins."""
    import math

    h = F.hour(F.col(ts_col)).cast("double")
    wd = F.weekday(F.col(ts_col)).cast("double")
    two_pi = 2.0 * math.pi
    return (
        df.withColumn(f"{prefix}hour", h.cast("int"))
        .withColumn(f"{prefix}weekday", wd.cast("int"))
        .withColumn(f"{prefix}is_weekend", (wd >= 5).cast("int"))
        .withColumn(f"{prefix}sin_hour", F.sin(h * (two_pi / 24.0)))
        .withColumn(f"{prefix}cos_hour", F.cos(h * (two_pi / 24.0)))
        .withColumn(f"{prefix}sin_weekday", F.sin(wd * (two_pi / 7.0)))
        .withColumn(f"{prefix}cos_weekday", F.cos(wd * (two_pi / 7.0)))
    )
