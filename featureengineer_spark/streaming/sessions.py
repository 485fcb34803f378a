"""Structured Streaming operators (phase-2 of SURVEY.md §2.9).

The reference is batch-only, but its incremental chunk loop over
unbounded-ish signals (``FeaGet.py:211-217``) and VAD gap segmentation
(``FeaGet.py:292-297``) prefigure streaming micro-batches and
``session_window``. Late/failed re-run ledgers (``FeaGet.py:127-144``)
map to watermarks + checkpointed exactly-once sinks.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_session_stats(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    entity_col: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-(entity, session) aggregates over a streaming transcript feed:
    gap-based ``session_window`` sessionization with watermarked late-data
    handling. Equivalent segmentation to the batch ``with_session_ids``
    (a session closes when no turn arrives within ``gap``)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(entity_col, F.session_window(F.col(ts_col), gap).alias("session"))
        .agg(
            F.count("*").alias("n_turns"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias(
                "assistant_turns"
            ),
            F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).alias("tool_calls"),
        )
        .select(
            entity_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_turns",
            "first_ts",
            "last_ts",
            "assistant_turns",
            "tool_calls",
        )
    )


def stream_sessionize_to_sink(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """End-to-end streaming job: parquet source → session aggregation →
    exactly-once parquet sink with checkpointed progress (restart resumes
    from the checkpoint — the streaming analog of the batch pipeline's
    manifest resume). ``available_now`` drains existing input then stops
    (used by tests and backfills); production runs pass False."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )
    out = stream_session_stats(stream, gap=gap, watermark=watermark)
    writer = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_running_profile(
    stream: DataFrame,
    entity_col: str = "conv_id",
):
    """Custom stateful streaming operator (``applyInPandasWithState``):
    a running per-conversation profile — total turns seen, latest-ts tool
    (streaming backfill), last turn timestamp — maintained in the state
    store across micro-batches. Emits one updated profile row per
    conversation per batch (output mode ``update``).

    This is the streaming form of the reference's incremental
    per-utterance accumulators (``FeaGet.py:211-217`` chunk loop +
    ``globalVar.py`` counters): arbitrary state the built-in windows
    can't express.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("n_turns", T.LongType()),
            T.StructField("last_tool", T.StringType()),
            T.StructField("last_ts", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_turns", T.LongType()),
            T.StructField("last_tool", T.StringType()),
            T.StructField("last_tool_ts_us", T.LongType()),
            T.StructField("last_ts_us", T.LongType()),
        ]
    )

    def fn(key, pdfs, state: "GroupState"):
        n, last_tool, last_tool_ts_us, last_ts_us = (
            state.get if state.exists else (0, None, -(2**62), -(2**62))
        )
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "turn_idx"], kind="mergesort")
            n += len(pdf)
            ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype("int64")
            # latest-ts non-null tool in this batch, compared against the
            # stored TOOL's own ts (rows can arrive out of order across
            # micro-batches)
            toolmask = pdf["tool"].notna().to_numpy()
            if toolmask.any():
                idx = ts_us[toolmask].argmax()
                cand_ts = int(ts_us[toolmask][idx])
                if cand_ts >= last_tool_ts_us:
                    last_tool = pdf["tool"].to_numpy()[toolmask][idx]
                    last_tool_ts_us = cand_ts
            last_ts_us = max(last_ts_us, int(ts_us.max()))
        state.update((n, last_tool, last_tool_ts_us, last_ts_us))
        yield pd.DataFrame(
            [
                {
                    "conv_id": key[0],
                    "n_turns": n,
                    "last_tool": last_tool,
                    "last_ts": pd.Timestamp(last_ts_us, unit="us"),
                }
            ]
        )

    return stream.groupBy(entity_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_asof_attach(
    spark: SparkSession,
    features: "DataFrame",
    anchors_path: str,
    output_path: str,
    checkpoint_path: str,
    anchor_schema,
    value_cols=None,
    available_now: bool = True,
    persist_features: bool = True,
):
    """Streaming point-in-time attach: a stream of anchor events gets the
    latest feature row with ``ts <= anchor_ts`` from a static feature
    table — the flagship as-of join run per micro-batch via
    ``foreachBatch`` (stream-static joins can't express the per-anchor
    windowed backfill directly, but each micro-batch is a bounded
    DataFrame, so the EXACT batch operator — leakage guarantees included —
    runs against it; the checkpoint gives exactly-once output on
    restart). The streaming analog of the reference's trial scoring
    against a fixed enrollment model (``IVector.py:1324``).

    The static feature side is persisted once (``persist_features``) so
    every micro-batch joins against the cache instead of re-reading and
    re-shuffling the full feature table per trigger — at production
    feature-table sizes a per-batch rescan dominates the whole job. The
    cache lives until the caller unpersists (the query may outlive this
    call); pass False if the feature side is already cached or bucketed
    on ``conv_id`` storage.
    """
    from featureengineer_spark.operators.asof import asof_join

    if persist_features and not features.is_cached:
        features = features.persist()

    stream = (
        spark.readStream.schema(anchor_schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(anchors_path)
    )

    def attach(batch_df, batch_id):
        out = asof_join(features, batch_df, value_cols=value_cols)
        # idempotent per-batch commit: a restart replays the in-flight
        # micro-batch, so a plain append would duplicate it — overwriting
        # the batch's own partition makes the replay a no-op rewrite
        # (exactly-once output together with the checkpointed offsets)
        from pyspark.sql import functions as F

        (
            out.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(output_path)
        )

    writer = stream.writeStream.foreachBatch(attach).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_asof(
    features: DataFrame,
    anchors: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "30 minutes",
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    anchor_ts_col: str = "anchor_ts",
    tie_col: str = "turn_idx",
    value_cols=("turn_idx",),
    how: str = "left_outer",
) -> DataFrame:
    """Stream-STREAM bounded-lookback point-in-time join: both the
    feature turns and the anchors arrive as streams; each anchor gets
    the latest feature row with
    ``anchor_ts − lookback ≤ ts ≤ anchor_ts`` for its entity.

    Two chained stateful operators, both watermark-bounded state:
    (1) a stream-stream join on the entity key with an event-time
    range condition — the lookback bound is what makes the join state
    finite, the streaming form of the as-of operator's leakage bound
    (`ts <= anchor_ts` is part of the join condition, so no future
    feature can ever attach); (2) an append-mode aggregation keyed on
    (entity, anchor event-time) taking ``max_by`` over (ts, tie) — the
    batch operator's latest-row tie discipline.

    ``how`` controls unmatched-anchor semantics. The default
    ``"left_outer"`` matches the batch ``asof_join`` contract (reference
    analog: every trial in the ndx gets a score,
    ``PrepareData.py:195-211``): an anchor with no feature inside its
    lookback window still emits, with null ``matched_ts``/values, once
    the watermark closes its join state — Spark emits the null-augmented
    row at state expiry, and since an unmatched anchor produces exactly
    one such row its group aggregates to the null struct. ``"inner"``
    drops unmatched anchors instead. The unbounded-history variant is
    the foreachBatch ``stream_asof_attach``.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer', got {how!r}")
    f = features.select(
        F.col(entity_col).alias("__f_ent"),
        F.col(ts_col).alias("__f_ts"),
        (
            F.col(tie_col).cast("long")
            if tie_col in features.columns
            else F.lit(0).cast("long")
        ).alias("__f_tie"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    ).withWatermark("__f_ts", watermark)
    a = anchors.select(
        F.col(entity_col), F.col(anchor_ts_col)
    ).withWatermark(anchor_ts_col, watermark)

    joined = a.join(
        f,
        (F.col(entity_col) == F.col("__f_ent"))
        & (F.col("__f_ts") <= F.col(anchor_ts_col))
        & (F.col("__f_ts") >= F.col(anchor_ts_col) - F.expr(f"INTERVAL {lookback}")),
        how,
    )
    picked = joined.groupBy(entity_col, anchor_ts_col).agg(
        F.max_by(
            F.struct(
                F.col("__f_ts").alias("matched_ts"),
                *[F.col(f"__v_{c}").alias(c) for c in value_cols],
            ),
            F.struct(F.col("__f_ts"), F.col("__f_tie")),
        ).alias("__m")
    )
    return picked.select(entity_col, anchor_ts_col, "__m.*")


def stream_sliding_activity(
    stream: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
    entity_col: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window per-entity activity over a streaming feed — the
    streaming form of W1's sliding frames (``F.window`` with slide +
    watermark for late data). Append-mode safe: a window emits once its
    end passes the watermark."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(entity_col, F.window(F.col(ts_col), window, slide).alias("w"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias(
                "assistant_turns"
            ),
        )
        .select(
            entity_col,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_turns",
            "assistant_turns",
        )
    )


def stream_render_sessions(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
    role_sep: str = ": ",
) -> DataFrame:
    """Streaming conversation render at SESSION CLOSE: once a
    conversation goes idle past ``gap`` (watermark-confirmed), its
    session's turns are emitted as ONE rendered training-text row —
    ``role<role_sep>text`` lines in ``idx_col`` order — the streaming
    form of ``curation.render_conversations`` scoped to gap sessions
    (the "conversation finished, ship it to the training corpus"
    trigger; parity-tested against the batch sessionize+render
    composition).

    One stateful ``session_window`` aggregation; state per open session
    is its collected turn list, expired at watermark close — bounded by
    (open sessions) × (turns per session), the same envelope any
    conversation-completion consumer needs."""
    line = F.struct(
        F.col(idx_col).cast("long").alias("i"),
        F.concat(
            F.coalesce(F.col(role_col), F.lit("")),
            F.lit(role_sep),
            F.coalesce(F.col(text_col), F.lit("")),
        ).alias("s"),
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            entity_col, F.session_window(F.col(ts_col), gap).alias("session")
        )
        .agg(F.array_sort(F.collect_list(line)).alias("__lines"))
        .select(
            entity_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            F.array_join(
                F.transform("__lines", lambda x: x["s"]), sep
            ).alias("rendered"),
            F.size("__lines").cast("long").alias("n_turns"),
        )
    )


def stream_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on the normalized-text hash — the streaming
    form of ``dedup.dedup_exact`` for an ingest pipeline: the FIRST
    arrival of each normalized text passes, later copies drop.

    ``dropDuplicatesWithinWatermark`` keys the state on the 64-bit hash
    and expires it once the watermark passes, so state is bounded by the
    distinct-hash arrival rate within the watermark horizon rather than
    the full corpus — the honest streaming trade-off: a duplicate
    arriving later than ``watermark`` after its original is NOT caught
    (route those to the batch dedup in the next compaction pass).
    Keep-first differs from the batch min-id representative when arrival
    order differs from id order; batch remains the canonical pass."""
    from featureengineer_spark.operators.dedup import normalize_text

    hashed = stream.withColumn(
        "__text_hash", F.xxhash64(normalize_text(F.col(text_col)))
    ).withWatermark(ts_col, watermark)
    return hashed.dropDuplicatesWithinWatermark(["__text_hash"]).drop("__text_hash")


def stream_dedup_neardup(
    spark: SparkSession,
    docs_path: str,
    output_path: str,
    checkpoint_path: str,
    store_path: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    num_perm: int = 64,
    bands: int = 16,
    shingle: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    available_now: bool = True,
    max_files_per_trigger: int = 4,
    horizon_s: float | None = None,
    store_files_per_batch: int = 4,
):
    """Streaming NEAR-duplicate gate: the MinHash-band extension of
    :func:`stream_dedup_exact` — an arriving document is suppressed iff
    any of its LSH band buckets was already seen, where "seen" covers
    both earlier micro-batches (a persistent band store) and earlier
    arrivals inside the same micro-batch (first-per-bucket by
    (``ts_col``, id) order). Identical semantics to the batch twin
    ``dedup.near_dedup_first_seen`` (parity-tested), run per micro-batch
    via ``foreachBatch``:

    1. band the batch (``dedup._banded_rows`` over MinHash signatures);
    2. drop docs colliding with the store (left-semi on
       (band_idx, band_hash)) or ranked >1 inside the batch;
    3. write survivors partitioned by ``__batch_id`` with dynamic
       overwrite (idempotent replay, like ``stream_asof_attach``);
    4. append ALL of the batch's band rows to the store — only after
       the survivor write materialized, and the store read excludes the
       current ``__batch_id`` partition, so a batch never collides with
       its own bands even when a crash between the store append and the
       checkpoint commit leaves its prior attempt's rows visible to the
       replay.

    State bound: the store holds ``bands`` rows per arriving document
    inside the retention horizon. With ``horizon_s`` set, store reads
    filter to band rows whose ``ts`` is within the horizon of the
    batch's max ts — the same trade-off as ``stream_dedup_exact``: a
    near-dup arriving later than the horizon after its original is NOT
    caught (route those to the batch pass), and expired store partitions
    can be physically deleted by :func:`compact_band_store` (parity- and
    bound-tested). The store join is an equi
    join on (band_idx, band_hash) — bucket-bounded, never |batch|×|store|
    row products."""
    from pyspark.sql.window import Window

    from featureengineer_spark.operators.dedup import (
        _banded_rows,
        minhash_signatures,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_path)
    )

    def gate(batch_df, batch_id):
        # A maxFilesPerTrigger micro-batch arrives as one input split per
        # file, so the shingle->signature map stage (the gate's dominant
        # cost) would run on one core per file while the rest of the
        # cluster idles — measured 6.3 s of a 9.5 s batch at 50k
        # docs/file on local[32]. Spread the batch across the executors
        # once, by the deterministic id hash, before the heavy pass
        # (guide §2.5: repartition immediately after a skewed read); the
        # shuffled bytes are just the raw batch rows, far smaller than
        # the exploded shingle stream this parallelizes.
        batch_df = batch_df.repartition(
            batch_df.sparkSession.sparkContext.defaultParallelism, id_col
        )
        sig = minhash_signatures(
            batch_df, id_col, text_col, num_perm, shingle, seed, hash_fn
        )
        banded = _banded_rows(sig, id_col, num_perm, bands, hash_fn).join(
            batch_df.select(F.col(id_col), F.col(ts_col).alias("__ts")), on=id_col
        )
        banded = banded.persist()
        store_cols = (id_col, "band_idx", "band_hash", "__ts")
        try:
            dropped = []
            # first batch: the store doesn't exist yet (and its partition
            # dirs are __batch_id=N — underscore-prefixed, so a file-listing
            # heuristic misreads a populated store as empty; read-and-catch
            # is the robust emptiness probe). Only the missing-path
            # analysis error means "no store yet" — any other failure
            # (corrupt store, transient FS error) must fail the batch so
            # the checkpoint retries it, instead of silently skipping the
            # cross-batch check and letting duplicates through for good.
            # The store's schema is declared, not inferred: it is exactly
            # what step 4 appends (the batch's band rows plus the
            # __batch_id partition column), and inference would cost a
            # footer-reading Spark job on every batch. A declared schema
            # still checks that the path exists, and a corrupt file still
            # fails the batch when the probe reads it.
            store_schema = banded.select(*store_cols).schema.add("__batch_id", "long")
            try:
                seen = batch_df.sparkSession.read.schema(store_schema).parquet(store_path)
            except AnalysisException as exc:
                msg = str(exc)
                if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
                    raise
                seen = None
            if seen is not None:
                # a replayed batch (crash between the store append and the
                # checkpoint commit) must never collide with its own prior
                # attempt's band rows — the store is partitioned by
                # __batch_id, so this filter is partition-pruned
                seen = seen.filter(F.col("__batch_id") != F.lit(batch_id))
                if horizon_s is not None:
                    hi = batch_df.agg(F.max(ts_col)).first()[0]
                    if hi is not None:
                        seen = seen.filter(
                            F.col("__ts")
                            >= F.lit(hi) - F.expr(f"INTERVAL {horizon_s} SECONDS")
                        )
                # The probe's join strategy follows the store's size.
                # While the pruned store side's size estimate is under the
                # session's autoBroadcastJoinThreshold (64 MB from
                # get_spark), the planner BROADCASTS THE STORE: at the
                # perfbench stream_gate size (2.9e5 store rows, a 2.7 MB
                # store) the final plan is a broadcast left-semi hash join
                # rebuilt every batch. Past the threshold it becomes a
                # shuffled (sort-merge) semi join whose store side is
                # partition-pruned (__batch_id) and horizon-filtered, so
                # the shuffled bytes are bounded by the gate's own state
                # bound. Broadcasting the BATCH's buckets instead (probe
                # the store map-side, then probe banded against the
                # colliding set) was measured slower at 50k-doc batches
                # (3.0 s -> 3.5 s/batch): its two broadcast builds are
                # blocking driver round trips on the batch critical path.
                dropped.append(
                    banded.join(
                        seen.select("band_idx", "band_hash"),
                        on=["band_idx", "band_hash"],
                        how="left_semi",
                    ).select(id_col)
                )
            w = Window.partitionBy("band_idx", "band_hash").orderBy(
                F.col("__ts"), F.col(id_col)
            )
            dropped.append(
                banded.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") > 1)
                .select(id_col)
            )
            bad = dropped[0]
            for d in dropped[1:]:
                bad = bad.unionByName(d)
            # no .distinct() before the anti join: duplicate right-side
            # ids leave a left-anti result unchanged, and skipping it
            # removes an exchange+aggregate stage from the batch's
            # critical path
            kept = batch_df.join(bad, on=id_col, how="left_anti")
            (
                kept.withColumn("__batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__batch_id")
                .parquet(output_path)
            )
            # store append AFTER the survivor write: every band row of the
            # batch (kept or dropped — first-per-bucket "seen" semantics)
            (
                # coalesce the append: at one file per cached partition a
                # 4-batch store is already 128 sub-MB files, and every
                # future batch pays the listing+open cost (guide §6);
                # band rows are ~24 B each so a handful of files per
                # batch is the right size. Parameterised for bigger
                # batches via store_files_per_batch.
                banded.select(*store_cols)
                .coalesce(max(1, store_files_per_batch))
                .withColumn("__batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__batch_id")
                .parquet(store_path)
            )
        finally:
            banded.unpersist()

    writer = stream.writeStream.foreachBatch(gate).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_band_store(
    spark: SparkSession,
    store_path: str,
    horizon_s: float,
    reference_ts=None,
    rewrite: bool = False,
) -> dict:
    """Horizon-driven compaction for the :func:`stream_dedup_neardup` /
    batch-ingest band store: physically delete ``__batch_id`` partitions
    whose band rows have ALL expired out of the gate's retention horizon,
    optionally rewriting the surviving partitions to drop their expired
    rows too (``rewrite=True`` — reclaims space inside mixed partitions
    at the cost of rewriting them).

    The cutoff is ``reference_ts − horizon_s``; ``reference_ts`` defaults
    to the store's max ``__ts``. Gating semantics INSIDE the horizon are
    unchanged by construction: the gate's store read already filters to
    ``__ts`` within ``horizon_s`` of the batch's max event time, so a
    row older than the cutoff can never influence a future batch — as
    long as event time does not regress across batches by more than the
    horizon (the same assumption the gate itself makes; pass an explicit
    ``reference_ts`` low-watermark when arrival order is looser).

    Scale: one aggregate over the store's (partition, ts) pairs — at
    ``bands`` rows per doc in the horizon this is the gate's own state
    bound — then O(#expired) filesystem deletes through the Hadoop FS
    API (works on s3a/hdfs/file stores). Returns a stats dict:
    ``deleted_batches``, ``rewritten_batches``, ``rows_before``,
    ``rows_after``."""
    store = spark.read.parquet(store_path)
    per_batch = store.groupBy("__batch_id").agg(
        F.max("__ts").alias("__max_ts"),
        F.min("__ts").alias("__min_ts"),
        F.count(F.lit(1)).alias("__n"),
    ).collect()
    rows_before = sum(r["__n"] for r in per_batch)
    if reference_ts is None:
        reference_ts = max((r["__max_ts"] for r in per_batch), default=None)
    if reference_ts is None:
        return {"deleted_batches": [], "rewritten_batches": [],
                "rows_before": 0, "rows_after": 0}
    import datetime

    cutoff = reference_ts - datetime.timedelta(seconds=horizon_s)

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    deleted, to_rewrite = [], []
    for r in per_batch:
        if r["__max_ts"] < cutoff:
            deleted.append(r["__batch_id"])
        elif rewrite and r["__min_ts"] < cutoff:
            to_rewrite.append(r["__batch_id"])
    for bid in deleted:
        p = jvm.org.apache.hadoop.fs.Path(f"{store_path}/__batch_id={bid}")
        fs = p.getFileSystem(hconf)
        fs.delete(p, True)
    if to_rewrite:
        # dynamic overwrite replaces exactly the rewritten partitions
        (
            store.filter(
                F.col("__batch_id").isin(to_rewrite)
                & (F.col("__ts") >= F.lit(cutoff))
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(store_path)
        )
    rows_after = spark.read.parquet(store_path).count() if (deleted or to_rewrite) else rows_before
    return {
        "deleted_batches": sorted(deleted),
        "rewritten_batches": sorted(to_rewrite),
        "rows_before": rows_before,
        "rows_after": rows_after,
    }
