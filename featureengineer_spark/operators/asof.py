"""As-of / point-in-time join — the engine's flagship operator (J9).

Graft of the reference's enroll/test discipline: an enroll model is built
only from frames with index inside the trial's ``[start, stop]`` bound
(``IVector.py:796-800``), i.e. features never read rows beyond the anchor.
Here: for each ``(entity, anchor_ts)`` probe, attach the most recent
feature row with ``ts <= anchor_ts`` (or ``<`` when ``inclusive=False``),
tie-broken by the stable turn ordering ``(ts, turn_idx)``.

Two physical strategies, identical semantics:

* :func:`asof_join` — **union-tag + window backfill**: pure DataFrame ops,
  one shuffle+sort on the entity key, leakage-safe by construction (the
  window frame ends at the current row). This is the default and the one
  Catalyst can fuse with up/downstream windows sharing the partitioning.
  All value columns ride in one packed struct, so many or wide value
  columns cost one ``last()``, not one per column.
* :func:`salted_asof_join` — the same window per ``(entity, time
  chunk)`` plus a carry pass, for mega-entities; :func:`asof_join_auto`
  routes between the two.

A cogrouped ``pd.merge_asof`` strategy was measured and removed: with
16 scalar double value columns at 48.7k feature rows and 7.8k anchors
(``local[4]``) it took 12.6 s against 0.84 s for :func:`asof_join`.

At cluster scale both shuffle each side exactly once on ``entity``; with
ts-bucketed, conv-hash-partitioned (Iceberg-layout) inputs the exchange on
the feature side is avoided entirely (storage-partition join / bucketed
scan).
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from featureengineer_spark._log import log_event

_log = logging.getLogger(__name__)

_TAG = "__asof_tag"


def asof_join(
    features: DataFrame,
    anchors: DataFrame,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    anchor_ts_col: str = "anchor_ts",
    tie_col: str = "turn_idx",
    value_cols: Sequence[str] | None = None,
    inclusive: bool = True,
    matched_ts_col: str = "matched_ts",
    allow_non_causal: bool = False,
    direction: str = "backward",
) -> DataFrame:
    """Point-in-time join via union-tag + ``last(ignorenulls)`` window.

    Returns one row per anchor row with ``value_cols`` (default: all
    feature columns except the keys) filled from the latest qualifying
    feature row; anchors with no prior feature get nulls. Feature columns
    tagged non-causal (centered-window provenance) are refused unless
    ``allow_non_causal=True`` — see ``validation.assert_causal``.

    ``direction="forward"`` flips the lookup: each anchor gets the
    EARLIEST feature row with ``ts >= anchor_ts`` (``>`` when
    ``inclusive=False``), ties broken by the lowest ``tie_col`` — the
    next-event join a LABEL-construction pass needs ("first purchase
    after this anchor"). Reading forward is non-causal by definition, so
    the causal-provenance guard does not apply; never feed
    forward-joined columns back in as model features. Physical shape is
    identical (one shuffle + one sorted window, traversed descending)."""
    from featureengineer_spark.validation import assert_causal

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    if value_cols is None:
        value_cols = [c for c in features.columns if c not in (entity_col, ts_col)]
    if direction == "backward" and not allow_non_causal:
        assert_causal(features, value_cols, context="asof_join")
    passthrough = [c for c in anchors.columns if c not in (entity_col, anchor_ts_col)]

    # Pack matched_ts + all value columns into ONE struct and backfill
    # the struct: per-column backfill would stitch together values from
    # different feature rows whenever a column is null in the latest row.
    packed = F.struct(
        F.col(ts_col).alias(matched_ts_col), *[F.col(c) for c in value_cols]
    )
    feat = features.select(
        F.col(entity_col),
        F.col(ts_col).alias("__t"),
        (F.col(tie_col).cast("long") if tie_col in features.columns else F.lit(0).cast("long")).alias("__tie"),
        F.lit(0).alias(_TAG),
        packed.alias("__row"),
        *[F.lit(None).cast(anchors.schema[c].dataType).alias(f"__a_{c}") for c in passthrough],
    )
    row_type = feat.schema["__row"].dataType
    # At equal ts: inclusive → anchors sort AFTER features (tag 1 > 0) so
    # the window sees them; strict → anchors sort BEFORE (tag -1 < 0).
    atag = 1 if inclusive else -1
    anch = anchors.select(
        F.col(entity_col),
        F.col(anchor_ts_col).alias("__t"),
        F.lit(None).cast("long").alias("__tie"),
        F.lit(atag).alias(_TAG),
        F.lit(None).cast(row_type).alias("__row"),
        *[F.col(c).alias(f"__a_{c}") for c in passthrough],
    )

    unioned = feat.unionByName(anch)
    # backward: ascend time, the last feature seen at the anchor is the
    # latest qualifying one. forward: DESCEND time (and tie), so the last
    # feature seen is the earliest (ts, tie) at-or-after the anchor. The
    # tag key stays ascending in both: at equal ts, inclusive anchors
    # (tag 1) traverse after features (0), strict (−1) before.
    if direction == "backward":
        order = [F.col("__t").asc(), F.col(_TAG).asc(), F.col("__tie").asc()]
    else:
        order = [F.col("__t").desc(), F.col(_TAG).asc(), F.col("__tie").desc()]
    w = (
        Window.partitionBy(entity_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        entity_col,
        F.col("__t"),
        F.col(_TAG),
        F.last("__row", ignorenulls=True).over(w).alias("__row"),
        *[F.col(f"__a_{c}") for c in passthrough],
    )
    out = filled.filter(F.col(_TAG) == atag).select(
        F.col(entity_col),
        F.col("__t").alias(anchor_ts_col),
        *[F.col(f"__a_{c}").alias(c) for c in passthrough],
        F.col(f"__row.{matched_ts_col}").alias(matched_ts_col),
        *[F.col(f"__row.{c}").alias(c) for c in value_cols],
    )
    return out


def salted_asof_join(
    features: DataFrame,
    anchors: DataFrame,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    anchor_ts_col: str = "anchor_ts",
    tie_col: str = "turn_idx",
    value_cols: Sequence[str] | None = None,
    inclusive: bool = True,
    matched_ts_col: str = "matched_ts",
    chunk_seconds: float = 86400.0,
    allow_non_causal: bool = False,
    direction: str = "backward",
) -> DataFrame:
    """As-of join with a mega-entity path (W2/X5 graft — the reference's
    "very long signals" batching, ``FeaGet.py:211-217``, applied to the
    flagship join; the chunk carry mirrors the start/stop bound
    discipline of ``IVector.py:796-800``).

    Both sides are chunked by TIME RANGE (``chunk_seconds``), so one
    10⁷-turn conversation spreads over #chunks tasks instead of one:

    * pass 1 — the union-tag window of :func:`asof_join`, but partitioned
      by ``(entity, chunk)``;
    * pass 2 — per-``(entity, chunk)`` latest packed feature row
      (``max_by`` — a plain hash agg), then a per-entity backfill scan
      over that tiny chunk-summary frame gives each chunk its carry-in,
      joined back to fill anchors whose latest feature lies in an earlier
      chunk.

    Exact same results as :func:`asof_join`: chunking is by timestamp
    only, so inclusive/strict tie handling (same ts ⇒ same chunk) is
    untouched, and the carry is strictly from earlier chunks.

    ``direction="forward"`` runs the REVERSED-carry decomposition: pass 1
    traverses each chunk descending (as the plain forward path does), the
    chunk summary keeps the EARLIEST ``(ts, tie)`` feature row per chunk
    (``min_by``), and the carry scan walks chunks in DESCENDING order so
    each chunk inherits the earliest row of the nearest LATER chunk that
    has features. A later chunk's timestamps are strictly greater than
    every timestamp in this chunk, so inclusive/strict anchor ties stay
    confined to pass 1 — exact equivalence to the plain forward window.
    """
    from featureengineer_spark.validation import assert_causal

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    if value_cols is None:
        value_cols = [c for c in features.columns if c not in (entity_col, ts_col)]
    if direction == "backward" and not allow_non_causal:
        assert_causal(features, value_cols, context="salted_asof_join")
    passthrough = [c for c in anchors.columns if c not in (entity_col, anchor_ts_col)]
    chunk_us = int(chunk_seconds * 1_000_000)

    def _chunk(c):
        from featureengineer_spark.functions.scalars import epoch_micros

        return F.floor(epoch_micros(F.col(c)) / F.lit(chunk_us)).cast("long")

    packed = F.struct(
        F.col(ts_col).alias(matched_ts_col), *[F.col(c) for c in value_cols]
    )
    feat = features.select(
        F.col(entity_col),
        F.col(ts_col).alias("__t"),
        (
            F.col(tie_col).cast("long")
            if tie_col in features.columns
            else F.lit(0).cast("long")
        ).alias("__tie"),
        F.lit(0).alias(_TAG),
        packed.alias("__row"),
        _chunk(ts_col).alias("__chunk"),
        *[
            F.lit(None).cast(anchors.schema[c].dataType).alias(f"__a_{c}")
            for c in passthrough
        ],
    )
    row_type = feat.schema["__row"].dataType
    atag = 1 if inclusive else -1
    anch = anchors.select(
        F.col(entity_col),
        F.col(anchor_ts_col).alias("__t"),
        F.lit(None).cast("long").alias("__tie"),
        F.lit(atag).alias(_TAG),
        F.lit(None).cast(row_type).alias("__row"),
        _chunk(anchor_ts_col).alias("__chunk"),
        *[F.col(c).alias(f"__a_{c}") for c in passthrough],
    )

    unioned = feat.unionByName(anch)
    # same per-chunk traversal discipline as the plain window (see
    # asof_join): ascend for backward, descend for forward; the tag key
    # stays ascending in both so inclusive/strict equal-ts ties hold
    if direction == "backward":
        order = [F.col("__t").asc(), F.col(_TAG).asc(), F.col("__tie").asc()]
    else:
        order = [F.col("__t").desc(), F.col(_TAG).asc(), F.col("__tie").desc()]
    w = (
        Window.partitionBy(entity_col, "__chunk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        entity_col,
        "__chunk",
        F.col("__t"),
        F.col(_TAG),
        F.last("__row", ignorenulls=True).over(w).alias("__row"),
        *[F.col(f"__a_{c}") for c in passthrough],
    )

    # carry-in: the boundary feature row of each (entity, chunk) — hash
    # agg, then the exclusive per-entity scan over the ≤#chunks summary
    # rows. backward: latest row, chunks ascending (carry from earlier
    # chunks); forward: earliest row, chunks DESCENDING (carry from the
    # nearest later chunk with features).
    if direction == "backward":
        boundary = F.max_by("__row", F.struct("__t", "__tie"))
        scan_order = F.col("__chunk").asc()
    else:
        boundary = F.min_by("__row", F.struct("__t", "__tie"))
        scan_order = F.col("__chunk").desc()
    chunk_last = feat.groupBy(entity_col, "__chunk").agg(
        boundary.alias("__last_row")
    )
    w_scan = (
        Window.partitionBy(entity_col)
        .orderBy(scan_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # anchors in chunks with no features at all still need a carry: scan
    # over the union of chunk ids, not just feature chunks
    all_chunks = unioned.select(entity_col, "__chunk").distinct()
    carries = (
        all_chunks.join(chunk_last, on=[entity_col, "__chunk"], how="left")
        .select(
            entity_col,
            "__chunk",
            F.last("__last_row", ignorenulls=True).over(w_scan).alias("__carry"),
        )
    )

    joined = filled.join(carries, on=[entity_col, "__chunk"], how="left")
    out = (
        joined.filter(F.col(_TAG) == atag)
        .withColumn("__row", F.coalesce(F.col("__row"), F.col("__carry")))
        .select(
            F.col(entity_col),
            F.col("__t").alias(anchor_ts_col),
            *[F.col(f"__a_{c}").alias(c) for c in passthrough],
            F.col(f"__row.{matched_ts_col}").alias(matched_ts_col),
            *[F.col(f"__row.{c}").alias(c) for c in value_cols],
        )
    )
    return out


def asof_join_auto(
    features: DataFrame,
    anchors: DataFrame,
    heavy_threshold: int = 1_000_000,
    chunk_seconds: float = 86400.0,
    entity_col: str = "conv_id",
    **kw,
) -> DataFrame:
    """Skew-aware as-of join: a cheap count-agg probe on the feature side
    picks the salted time-chunked path when any entity exceeds
    ``heavy_threshold`` rows (same contract as ``rolling_counts_auto``).
    Both directions route: backward takes the forward-carry
    decomposition, ``direction="forward"`` the reversed-carry one —
    a mega-entity next-event join spreads over #chunks tasks too.

    The probe verdict is memoized per SparkContext and analyzed plan
    (``skew.has_heavy_keys``), so a refresh that re-reads and
    re-featurizes the same table probes once per context, not once per
    call. A stale verdict (files rewritten under the same plan) changes
    only the route, never the rows: both paths return the same result.
    Each call writes one INFO ``asof_route`` line on this module's
    logger: the route, the threshold, and whether the memo or a probe
    job answered."""
    from featureengineer_spark.operators.skew import _heavy_verdict

    has_heavy, answered_by = _heavy_verdict(
        features, entity_col, heavy_threshold, None
    )
    log_event(
        _log,
        "asof_route",
        level=logging.INFO,
        route="salted" if has_heavy else "plain",
        heavy_threshold=heavy_threshold,
        answered_by=answered_by,
    )
    if has_heavy:
        return salted_asof_join(
            features, anchors, entity_col=entity_col,
            chunk_seconds=chunk_seconds, **kw
        )
    return asof_join(features, anchors, entity_col=entity_col, **kw)


def interval_join(
    intervals: DataFrame,
    anchors: DataFrame,
    entity_col: str = "conv_id",
    start_col: str = "valid_from",
    end_col: str = "valid_to",
    anchor_ts_col: str = "anchor_ts",
    how: str = "inner",
) -> DataFrame:
    """Interval form of the point-in-time join (SURVEY.md §2.3 note): each
    anchor matches the interval row with ``valid_from <= anchor_ts <
    valid_to`` for its entity.

    Physically an equi join on the entity key (sort-merge / broadcast by
    Catalyst's choice) with the range predicate applied inside the join —
    the pair space is bounded by the per-entity interval count, and the
    entity exchange co-locates with the rest of the pipeline's
    partitioning.
    """
    cond = (
        (intervals[entity_col] == anchors[entity_col])
        & (anchors[anchor_ts_col] >= intervals[start_col])
        & (anchors[anchor_ts_col] < intervals[end_col])
    )
    out = anchors.join(intervals, cond, how)
    return out.select(
        anchors[entity_col].alias(entity_col),
        *[anchors[c] for c in anchors.columns if c != entity_col],
        *[intervals[c] for c in intervals.columns if c != entity_col],
    )
