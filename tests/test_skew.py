"""Salted (chunked) operators must be exactly equivalent to plain windows
— the associativity-over-turn-ranges requirement (SURVEY.md §7.3.3)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from featureengineer_spark.operators import (
    detect_heavy_keys,
    salted_rolling_counts,
    with_cumulative,
    with_rolling_counts,
)
from featureengineer_spark.operators.skew import salted_cumulative
from featureengineer_spark.operators.windows import default_rolling_predicates

KEY = ["conv_id", "ts", "turn_idx"]


def test_detect_heavy_keys(transcripts):
    heavy = detect_heavy_keys(transcripts, threshold=500).toPandas()
    assert "conv_0" in set(heavy["conv_id"])  # the mega conversation
    assert (heavy["count"] > 500).all()


def test_salted_rolling_equals_plain(transcripts):
    preds = default_rolling_predicates()
    plain = with_rolling_counts(transcripts, preds, window=10).toPandas().sort_values(KEY)
    salted = (
        salted_rolling_counts(transcripts, preds, window=10, chunk_size=64)
        .toPandas()
        .sort_values(KEY)
    )
    for c in preds:
        np.testing.assert_array_equal(
            plain[c].to_numpy(), salted[c].to_numpy(), err_msg=c
        )


def test_salted_cumulative_equals_plain(transcripts):
    cols = {"cum_text_len": F.coalesce(F.length("text"), F.lit(0)).cast("long")}
    plain = with_cumulative(transcripts, cols).toPandas().sort_values(KEY)
    salted = (
        salted_cumulative(transcripts, cols, chunk_size=64).toPandas().sort_values(KEY)
    )
    np.testing.assert_array_equal(
        plain["cum_text_len"].to_numpy(), salted["cum_text_len"].to_numpy()
    )


def test_salted_session_ids_equals_plain(transcripts):
    from featureengineer_spark.operators import with_session_ids
    from featureengineer_spark.operators.skew import salted_session_ids

    plain = with_session_ids(transcripts, idle_timeout_s=1800.0).toPandas().sort_values(KEY)
    salted = (
        salted_session_ids(transcripts, idle_timeout_s=1800.0, chunk_size=64)
        .toPandas()
        .sort_values(KEY)
    )
    np.testing.assert_array_equal(
        plain["session_id"].to_numpy(), salted["session_id"].to_numpy()
    )


def test_salted_backfill_equals_plain(transcripts):
    from featureengineer_spark.operators import with_backfill
    from featureengineer_spark.operators.skew import salted_backfill

    plain = with_backfill(transcripts, "tool").toPandas().sort_values(KEY)
    salted = salted_backfill(transcripts, "tool", chunk_size=64).toPandas().sort_values(KEY)
    a = plain["tool_backfilled"].where(plain["tool_backfilled"].notna(), None).to_numpy()
    b = salted["tool_backfilled"].where(salted["tool_backfilled"].notna(), None).to_numpy()
    np.testing.assert_array_equal(a, b)


def test_rolling_counts_auto_routes_and_matches(transcripts):
    from featureengineer_spark.operators.skew import rolling_counts_auto

    preds = default_rolling_predicates()
    plain = with_rolling_counts(transcripts, preds, window=10).toPandas().sort_values(KEY)
    # low threshold → salted path; high threshold → plain path; both equal
    for thresh in (100, 10_000_000):
        auto = (
            rolling_counts_auto(transcripts, preds, window=10,
                                heavy_threshold=thresh, chunk_size=64)
            .toPandas().sort_values(KEY)
        )
        for c in preds:
            np.testing.assert_array_equal(plain[c].to_numpy(), auto[c].to_numpy())


def test_salted_lags_equals_plain(transcripts):
    from featureengineer_spark.operators import with_lags
    from featureengineer_spark.operators.skew import salted_lags

    plain = (
        with_lags(transcripts, ["role"], offsets=(1, 2))
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    salted = (
        salted_lags(transcripts, ["role"], offsets=(1, 2), chunk_size=64)
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    for c in ("lag1_role", "lag2_role", "lead1_role", "lead2_role"):
        np.testing.assert_array_equal(
            plain[c].fillna("∅").to_numpy(), salted[c].fillna("∅").to_numpy(), err_msg=c
        )


def test_salted_sliding_norm_equals_plain(transcripts):
    from featureengineer_spark.operators.windows import with_sliding_norm
    from featureengineer_spark.operators.skew import salted_sliding_norm

    t = transcripts.withColumn(
        "val", F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double")
    )
    for center in (False, True):
        plain = (
            with_sliding_norm(t, "val", win=21, center=center)
            .toPandas().sort_values(KEY).reset_index(drop=True)
        )
        salted = (
            salted_sliding_norm(t, "val", win=21, center=center, chunk_size=64)
            .toPandas().sort_values(KEY).reset_index(drop=True)
        )
        np.testing.assert_allclose(
            plain["val_slidnorm"].to_numpy(),
            salted["val_slidnorm"].to_numpy(),
            rtol=1e-9, atol=1e-12,
            err_msg=f"center={center}",
        )


def test_salted_ewma_equals_plain(transcripts):
    from featureengineer_spark.operators.skew import salted_ewma
    from featureengineer_spark.operators.windows import with_ewma

    t = transcripts.withColumn(
        "val", F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double")
    )
    plain = (
        with_ewma(t, "val", alpha=0.3)
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    salted = (
        salted_ewma(t, "val", alpha=0.3, chunk_size=64)
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    np.testing.assert_allclose(
        plain["val_ewma"].to_numpy(), salted["val_ewma"].to_numpy(),
        rtol=1e-9, atol=1e-12,
    )


def test_detect_heavy_keys_sampled(transcripts):
    """The 1/D hash-sampled probe must still flag the mega conversation
    (and no tiny ones) at a fraction of the probe cost."""
    exact = {
        r["conv_id"]
        for r in detect_heavy_keys(transcripts, threshold=500).collect()
    }
    sampled = {
        r["conv_id"]
        for r in detect_heavy_keys(
            transcripts, threshold=500, sample_denominator=8
        ).collect()
    }
    assert "conv_0" in sampled  # the 600-turn mega conv survives sampling
    # sampled set stays within the exact heavy set plus near-threshold noise
    counts = {r["conv_id"]: r["count"] for r in transcripts.groupBy("conv_id").count().collect()}
    for c in sampled:
        assert counts[c] > 500 / 4, (c, counts[c])


def test_salted_group_norm_equals_plain(transcripts):
    from featureengineer_spark.operators import with_group_norm
    from featureengineer_spark.operators.skew import salted_group_norm

    t = transcripts.withColumn(
        "val", F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double")
    )
    plain = (
        with_group_norm(t, ["val"])
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    salted = (
        salted_group_norm(t, ["val"])
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    np.testing.assert_allclose(
        plain["val_cmvn"].to_numpy(), salted["val_cmvn"].to_numpy(),
        rtol=1e-9, atol=1e-12,
    )


def test_salted_iir_equals_plain(transcripts):
    from featureengineer_spark.operators import RASTA_A, RASTA_B, salted_iir
    from featureengineer_spark.operators.windows import with_iir

    t = transcripts.withColumn(
        "val", F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double")
    )
    # loose tol keeps the impulse-response depth (len(h)-1) under the
    # tiny test chunk_size so chunking actually engages on the mega conv
    plain = (
        with_iir(t, "val", RASTA_B, RASTA_A, tol=1e-6)
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    salted = (
        salted_iir(t, "val", RASTA_B, RASTA_A, tol=1e-6, chunk_size=256)
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    np.testing.assert_allclose(
        plain["val_iir"].to_numpy(), salted["val_iir"].to_numpy(),
        rtol=1e-9, atol=1e-9,
    )


def test_salted_iir_rejects_depth_over_chunk(transcripts):
    import pytest

    from featureengineer_spark.operators import RASTA_A, RASTA_B, salted_iir

    with pytest.raises(ValueError, match="chunk_size"):
        salted_iir(transcripts, "turn_idx", RASTA_B, RASTA_A, chunk_size=64)


def test_heavy_probe_memoized_across_auto_calls(spark, monkeypatch):
    """Two auto-router calls over the same table must fire ONE heavy-key
    probe job (session-lifetime memo keyed on the analyzed plan), with
    identical results either way."""
    from pyspark.sql import functions as F

    from featureengineer_spark.operators import skew
    from featureengineer_spark.operators.asof import asof_join_auto
    from featureengineer_spark.operators.skew import rolling_counts_auto

    df = (
        spark.range(2000)
        .select(
            (F.col("id") % 20).cast("string").alias("conv_id"),
            (F.col("id") / 20).cast("int").alias("turn_idx"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
            F.lit("user").alias("role"),
        )
    )
    calls = {"n": 0}
    real = skew.detect_heavy_keys

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(skew, "detect_heavy_keys", counting)
    skew._HEAVY_PROBE_CACHE.clear()

    anchors = df.groupBy("conv_id").agg(F.max("ts").alias("anchor_ts"))
    preds = {"n_user": F.col("role") == "user"}
    out1 = rolling_counts_auto(df, preds, window=5, heavy_threshold=50_000)
    out2 = asof_join_auto(df, anchors, heavy_threshold=50_000, value_cols=["turn_idx"])
    assert out1.count() == 2000 and out2.count() == 20
    assert calls["n"] == 1  # second auto call hit the memo

    # bypass works and the memo answers stay correct
    assert skew.has_heavy_keys(df, threshold=50_000, use_cache=False) is False
    assert calls["n"] == 2


def test_heavy_probe_memoized_across_read_clustered_passes(spark, transcripts, tmp_path, monkeypatch):
    """A refresh pass re-reads the store (``read_clustered`` builds a new
    child session per call), re-featurizes and re-joins: two such passes
    fire ONE heavy-key probe, because the memo is keyed per SparkContext
    and the featurized plan is the same on every call."""
    from pyspark.sql import functions as F

    from featureengineer_spark.kernels import featurize_fast
    from featureengineer_spark.operators import skew
    from featureengineer_spark.operators.asof import asof_join_auto
    from featureengineer_spark.sources.io import read_clustered, write_transcripts_partitioned

    path = str(tmp_path / "store")
    write_transcripts_partitioned(transcripts, path, conv_buckets=4)
    anchors = transcripts.groupBy("conv_id").agg(F.max("ts").alias("anchor_ts"))
    calls = {"n": 0}
    real = skew.detect_heavy_keys

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(skew, "detect_heavy_keys", counting)
    skew._HEAVY_PROBE_CACHE.clear()
    outs = []
    for _ in range(2):
        feats = featurize_fast(read_clustered(spark, path), clustered=True)
        outs.append(asof_join_auto(feats, anchors, value_cols=["turn_idx"]))
    assert calls["n"] == 1
    assert outs[1].count() == anchors.count()
