"""Per-turn vectorized feature kernel (segmented ``mapInArrow``).

Graft of the reference's per-segment numpy kernels — posterior+stat0/stat1
per segment with the UBM broadcast to every worker (``IVector.py:806-815``,
``mpiIV.py:241,400``): here :func:`featurize_fast` streams conv-sorted
Arrow batches through one segmented numpy kernel that turns each turn
into a fixed-dim ``feature_vec``. The small dense projection (8×8
doubles, 512 bytes) rides in the kernel's closure, pickled with the
function itself; there is no Spark broadcast variable. A broadcast would
need an owner to destroy it, and its per-call id would make every call a
different plan, so two calls on the same input and model could not share
a plan-keyed memo (the as-of router's heavy-key probe) or cache entry.

The kernel is leakage-safe: normalization is *expanding* (statistics over
rows at-or-before the current turn only, under stable ``(ts, turn_idx)``
ordering) — the transcript analog of the reference's ``cep[start:stop]``
bound (``IVector.py:796-800``). Everything inside the kernel is
whole-batch numpy — zero per-row Python. ``oracle.oracle_features`` is
its pandas reference.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 8


@dataclass
class FeatureModel:
    """Small dense model state, shipped to executors in the kernel's
    closure (X4 graft).

    ``proj`` plays the role of the reference's TV matrix — a fixed dense
    projection applied to every per-turn statistics vector.
    """

    proj: np.ndarray = field(
        default_factory=lambda: np.random.default_rng(0).standard_normal(
            (FEATURE_DIM, FEATURE_DIM)
        )
    )


class _Carry:
    """Running expanding-stat state for a conversation that spans Arrow
    batches: row count, shifted sums/sumsq, the conv's first-row stats
    (shift base), and the previous row's timestamp (gap continuation)."""

    __slots__ = ("conv", "count", "s", "q", "x0", "last_ts")

    def __init__(self, conv, count, s, q, x0, last_ts):
        self.conv, self.count, self.s, self.q = conv, count, s, q
        self.x0, self.last_ts = x0, last_ts


def _featurize_segmented(
    is_start: np.ndarray,
    ts_us: np.ndarray,
    num_cols: list[np.ndarray],
    proj: np.ndarray,
    carry: _Carry | None,
    conv0,
    conv_last,
) -> tuple[np.ndarray, _Carry]:
    """Segmented expanding-standardize + project over one batch of
    pre-computed numeric stats. ``is_start[i]`` marks the first row of a
    conversation within the batch; ``conv0``/``conv_last`` identify the
    first/last conversation for cross-batch carry."""
    n = len(ts_us)
    seg_id = np.cumsum(is_start) - 1
    starts = np.flatnonzero(is_start)
    continuing = carry is not None and conv0 == carry.conv

    gap = np.diff(ts_us, prepend=ts_us[0]) / 1e6
    gap[starts] = 0.0
    if continuing:
        gap[0] = (ts_us[0] - carry.last_ts) / 1e6
    text_len = num_cols[0]
    x = np.column_stack(
        [
            text_len,
            num_cols[1],
            num_cols[2],
            num_cols[3],
            num_cols[4],
            num_cols[5],
            gap,
            np.log1p(text_len),
        ]
    )

    x0_seg = x[starts].copy()
    if continuing:
        x0_seg[0] = carry.x0
    xs = x - x0_seg[seg_id]

    # Running sums of each conversation are accumulated in row order from
    # its own first row (a continuing conversation resumes from the carry
    # exactly as if unsplit), never as differences of a batch-wide cumsum:
    # those carry the rounding of whichever conversations precede it, so
    # its features would change with the partitioning.
    d = x.shape[1]
    xx = np.hstack([xs, xs * xs])
    if continuing:
        xx[0, :d] += carry.s
        xx[0, d:] += carry.q
    # one sequential cumsum per distinct conversation length, over all the
    # conversations of that length stacked: (convs, length, 2d)
    lengths = np.diff(starts, append=n)
    cum = np.empty_like(xx)
    for length in np.unique(lengths).tolist():
        rows = starts[lengths == length][:, None] + np.arange(length)
        cum[rows] = np.cumsum(xx[rows], axis=1)
    cums, cumq = cum[:, :d], cum[:, d:]
    counts = np.arange(n, dtype=np.float64) - starts[seg_id] + 1.0
    if continuing:
        counts[: starts[1] if len(starts) > 1 else n] += carry.count

    cnt = counts[:, None]
    mean = cums / cnt
    with np.errstate(invalid="ignore", divide="ignore"):
        var = (cumq - cnt * mean * mean) / np.maximum(cnt - 1.0, 1.0)
        z = (xs - mean) / np.sqrt(np.maximum(var, 0.0))
    z[~np.isfinite(z)] = 0.0
    z[counts == 1.0, :] = 0.0

    vecs = z @ proj.T
    new_carry = _Carry(
        conv_last, counts[-1], cums[-1].copy(), cumq[-1].copy(), x0_seg[-1].copy(), ts_us[-1]
    )
    return vecs, new_carry


def featurize_fast(
    df: DataFrame,
    model: FeatureModel | None = None,
    partitions: int | None = None,
    clustered: bool = False,
) -> DataFrame:
    """Scale-path featurizer: JVM-side stat projection, repartition by
    conv hash, sort within partitions, stream Arrow batches through the
    segmented kernel.

    Same features as ``oracle.oracle_features``, with three scale wins:

    * parallelism = #partitions instead of #groups — no per-conversation
      pandas overhead (a grouped map pays ~1 ms per group, fatal with
      10^7 short conversations); conversations longer than one Arrow
      batch stream through carry state instead of materializing.
    * the raw per-turn statistics (text length, word count, role one-hot,
      tool flag) are computed JVM-side BEFORE the shuffle and the text
      column is dropped, so the exchange and the Arrow boundary move ~40
      bytes/row instead of the full transcript text — at 100 TB the text
      never leaves the scan stage.
    * this is the ``array_split`` + running-accumulator pattern of the
      reference's MPI path (``mpiIV.py:160-214``) as a partition scan.
    """
    model = model or FeatureModel()
    proj = model.proj

    text = F.coalesce(F.col("text"), F.lit(""))
    trimmed = F.trim(text)
    pre = df.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.length(text).cast("double").alias("__text_len"),
        # split+size, not regexp_count+1: counting matches walks the
        # regex engine with per-match bookkeeping and measured ~12%
        # slower on this projection than Pattern.split (same engine
        # family as the normalize_text finding, smaller magnitude).
        # Identical count on TRIMMED text: no leading/trailing
        # separator, so the split pieces are exactly the tokens.
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .cast("double")
        .alias("__n_words"),
        (F.col("role") == "user").cast("double").alias("__is_user"),
        (F.col("role") == "assistant").cast("double").alias("__is_assistant"),
        (F.col("role") == "system").cast("double").alias("__is_system"),
        F.col("tool").isNotNull().cast("double").alias("__tool_notnull"),
    )
    if clustered:
        # Input is already conv-clustered (Iceberg bucket(N, conv_id)
        # layout: every conversation wholly inside one input split, the
        # engine's production table layout) → NO exchange at all; only a
        # local sort. A split may hold several whole bucket files (as
        # sources.io.read_clustered packs them, about one split per
        # core); the kernel only needs no conversation cut between two
        # splits. Spark cuts a single file LARGER than its split size
        # into several tasks, which keeps one input_file_name but breaks
        # the carry chain — read with read_clustered, and gate a new
        # layout once with validation.assert_clustered
        # (partition-granularity check).
        prepped = pre.sortWithinPartitions("conv_id", "ts", "turn_idx")
    else:
        parts = partitions or df.sparkSession.sparkContext.defaultParallelism * 2
        prepped = pre.repartition(parts, "conv_id").sortWithinPartitions(
            "conv_id", "ts", "turn_idx"
        )

    num_names = [
        "__text_len", "__n_words", "__is_user", "__is_assistant",
        "__is_system", "__tool_notnull",
    ]

    def fn(batches):
        # mapInArrow: conv_id stays an Arrow buffer (no per-row Python
        # string objects — that conversion dominated the mapInPandas
        # profile), numeric columns are zero-copy numpy views, and the
        # output reuses the input key arrays as-is.
        import pyarrow as pa
        import pyarrow.compute as pc

        carry: _Carry | None = None
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            conv = batch.column(0)
            is_start = np.empty(n, dtype=bool)
            is_start[0] = True
            if n > 1:
                neq = pc.not_equal(conv.slice(1), conv.slice(0, n - 1))
                is_start[1:] = neq.to_numpy(zero_copy_only=False)
            ts_us = batch.column(2).cast(pa.int64()).to_numpy(zero_copy_only=False)
            nums = [
                batch.column(i + 3).to_numpy(zero_copy_only=False)
                for i in range(len(num_names))
            ]
            conv0 = conv[0].as_py()
            conv_last = conv[n - 1].as_py()
            vecs, carry = _featurize_segmented(
                is_start, ts_us, nums, proj, carry, conv0, conv_last
            )
            yield pa.RecordBatch.from_arrays(
                [
                    conv,
                    batch.column(1),
                    batch.column(2),
                    *[pa.array(np.ascontiguousarray(vecs[:, j])) for j in range(proj.shape[0])],
                ],
                names=["conv_id", "turn_idx", "ts"] + [f"f{j}" for j in range(proj.shape[0])],
            )

    flat_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), False),
        ]
        + [T.StructField(f"f{j}", T.DoubleType(), False) for j in range(FEATURE_DIM)]
    )
    flat = prepped.mapInArrow(fn, schema=flat_schema)
    return flat.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.array(*[F.col(f"f{j}") for j in range(FEATURE_DIM)]).alias("feature_vec"),
    )


def learn_feature_model(df: DataFrame) -> FeatureModel:
    """Learn the projection FROM DATA instead of the fixed seeded matrix:
    one distributed pass fits a PCA whitener (eigh of the covariance,
    in-cluster-reduced partials) over the expanding-standardized per-turn
    statistics, and the whitening matrix becomes ``FeatureModel.proj``.

    This is the engine's per-turn analog of the reference learning its
    projection from accumulated statistics rather than fixing it
    (``IVector.py:131-244``); for the full supervector-level learned
    projection see ``operators.tv.train_total_variability``. The learned
    model plugs into :func:`featurize_fast` unchanged, and by construction
    the projected feature covariance is the identity (decorrelated
    features).
    """
    import numpy as np

    from featureengineer_spark.operators.whitening import fit_whitener

    ident = FeatureModel(proj=np.eye(FEATURE_DIM))
    feats = featurize_fast(df, model=ident)
    _, w = fit_whitener(feats, vec_col="feature_vec")
    return FeatureModel(proj=w)


def save_model(model: FeatureModel, path: str) -> None:
    """Per-stage model checkpoint (S7 graft — the reference writes
    ``factor_analyser.write(output + "_it{}.h5")`` per EM iteration,
    ``mpiIV.py:236-240``): numpy arrays + JSON manifest, atomic rename."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "proj_tmp.npy")  # np.save appends .npy unless present
    np.save(tmp, model.proj)
    os.replace(tmp, os.path.join(path, "proj.npy"))
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump({"feature_dim": int(model.proj.shape[0])}, f)


def load_model(path: str) -> FeatureModel:
    import os

    return FeatureModel(proj=np.load(os.path.join(path, "proj.npy")))
