"""As-of / point-in-time join: the window and salted strategies vs the
naive pandas spec, plus the temporal-leakage property (SURVEY.md §5.3)."""

from __future__ import annotations

import pandas as pd
import pytest

from featureengineer_spark.operators import asof_join
from featureengineer_spark.oracle import oracle_asof

VALUE_COLS = ["turn_idx", "role", "tool"]
OUT_KEY = ["conv_id", "anchor_ts"]


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(OUT_KEY + ["turn_idx"], kind="mergesort").reset_index(drop=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("float64")  # null-able compare
    for c in ("role", "tool"):
        pdf[c] = pdf[c].where(pdf[c].notna(), None)
    return pdf[OUT_KEY + ["matched_ts"] + VALUE_COLS]


@pytest.fixture(scope="module")
def expected(transcripts_pdf, anchors_pdf):
    return _norm(oracle_asof(transcripts_pdf, anchors_pdf, VALUE_COLS))


@pytest.mark.parametrize("impl", [asof_join])
def test_asof_matches_oracle(impl, transcripts, anchors, anchors_pdf, expected):
    got = impl(
        transcripts,
        anchors,
        value_cols=VALUE_COLS,
    ).toPandas()
    assert len(got) == len(anchors_pdf)
    got = _norm(got)
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


@pytest.mark.parametrize("impl", [asof_join])
def test_asof_strict_excludes_equal_ts(impl, transcripts, anchors, transcripts_pdf, anchors_pdf):
    got = _norm(
        impl(transcripts, anchors, value_cols=VALUE_COLS, inclusive=False).toPandas()
    )
    exp = _norm(oracle_asof(transcripts_pdf, anchors_pdf, VALUE_COLS, inclusive=False))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@pytest.mark.parametrize("impl", [asof_join])
def test_no_temporal_leakage(impl, transcripts, anchors):
    """Property: no matched feature row has ts > its anchor (the north
    rule's zero-temporal-leakage gate)."""
    out = impl(transcripts, anchors, value_cols=VALUE_COLS)
    leaked = out.filter("matched_ts > anchor_ts").count()
    assert leaked == 0


def test_anchor_before_first_turn_yields_null(transcripts, anchors):
    out = asof_join(transcripts, anchors, value_cols=VALUE_COLS).toPandas()
    # every conv got one anchor 1s before its first turn → null match
    assert out["matched_ts"].isna().sum() >= transcripts.select("conv_id").distinct().count()


def test_salted_asof_equals_plain(transcripts, anchors):
    """Mega-entity (time-chunked) as-of join must be exactly equivalent to
    the plain union-tag window, including anchors whose match lies in an
    earlier chunk and anchors with no prior feature at all."""
    from featureengineer_spark.operators.asof import salted_asof_join

    plain = _norm(asof_join(transcripts, anchors, value_cols=VALUE_COLS).toPandas())
    # tiny chunks (60s) force many cross-chunk carries on the mega conv
    salted = _norm(
        salted_asof_join(
            transcripts, anchors, value_cols=VALUE_COLS, chunk_seconds=60.0
        ).toPandas()
    )
    pd.testing.assert_frame_equal(plain, salted)


def test_salted_asof_strict_equals_plain(transcripts, anchors):
    from featureengineer_spark.operators.asof import salted_asof_join

    plain = _norm(
        asof_join(transcripts, anchors, value_cols=VALUE_COLS, inclusive=False).toPandas()
    )
    salted = _norm(
        salted_asof_join(
            transcripts, anchors, value_cols=VALUE_COLS, inclusive=False, chunk_seconds=60.0
        ).toPandas()
    )
    pd.testing.assert_frame_equal(plain, salted)


def test_asof_auto_routes(transcripts, anchors):
    from featureengineer_spark.operators.asof import asof_join_auto

    out_heavy = asof_join_auto(
        transcripts, anchors, heavy_threshold=500, chunk_seconds=60.0, value_cols=VALUE_COLS
    )
    out_light = asof_join_auto(
        transcripts, anchors, heavy_threshold=10**9, value_cols=VALUE_COLS
    )
    a = _norm(out_heavy.toPandas())
    b = _norm(out_light.toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_non_causal_provenance_guard(spark, transcripts):
    """A centered sliding-norm column is tagged non-causal in schema
    metadata; feeding it through any as-of path as a feature value must
    raise, while the trailing variant and allow_non_causal=True pass."""
    import pytest
    from pyspark.sql import functions as F

    from featureengineer_spark.operators import asof_join
    from featureengineer_spark.operators.asof import salted_asof_join
    from featureengineer_spark.operators.windows import with_sliding_norm
    from featureengineer_spark.validation import non_causal_columns

    feats = with_sliding_norm(
        transcripts.withColumn("x", F.length("text").cast("double")),
        "x", win=5, center=True, out_col="x_centered",
    )
    feats = with_sliding_norm(feats, "x", win=5, center=False, out_col="x_trailing")
    # the tag survives projection/filter
    carried = feats.select("conv_id", "ts", "turn_idx", "x_centered", "x_trailing")
    assert non_causal_columns(carried) == ["x_centered"]

    anchors = transcripts.groupBy("conv_id").agg(F.max("ts").alias("anchor_ts"))
    for fn in (asof_join, salted_asof_join):
        with pytest.raises(ValueError, match="non-causal"):
            fn(carried, anchors, value_cols=["x_centered"])
    # trailing column passes; explicit override allows offline parity runs
    asof_join(carried, anchors, value_cols=["x_trailing"]).count()
    asof_join(carried, anchors, value_cols=["x_centered"], allow_non_causal=True).count()


def _forward_oracle(transcripts_pdf, anchors_pdf, inclusive=True):
    """Naive per-anchor forward spec: earliest (ts, turn_idx) feature row
    with ts >= (or >) anchor_ts."""
    rows = []
    feats = transcripts_pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    for _, a in anchors_pdf.iterrows():
        sub = feats[feats["conv_id"] == a["conv_id"]]
        ok = sub[sub["ts"] >= a["anchor_ts"]] if inclusive else sub[sub["ts"] > a["anchor_ts"]]
        rec = {"conv_id": a["conv_id"], "anchor_ts": a["anchor_ts"]}
        if len(ok):
            first = ok.iloc[0]
            rec["matched_ts"] = first["ts"]
            for c in VALUE_COLS:
                rec[c] = first[c]
        else:
            rec["matched_ts"] = pd.NaT
            for c in VALUE_COLS:
                rec[c] = None
        rows.append(rec)
    return pd.DataFrame(rows)


@pytest.mark.parametrize("impl", [asof_join])
@pytest.mark.parametrize("inclusive", [True, False])
def test_asof_forward_matches_naive_spec(impl, inclusive, transcripts, anchors,
                                         transcripts_pdf, anchors_pdf):
    """direction='forward' == the naive next-event spec (earliest
    (ts, tie) at-or-after the anchor), both inclusivity modes; no
    matched row may precede its anchor."""
    out = impl(
        transcripts, anchors, value_cols=VALUE_COLS,
        direction="forward", inclusive=inclusive,
    )
    assert out.filter("matched_ts < anchor_ts").count() == 0
    got = _norm(out.toPandas())
    exp = _norm(_forward_oracle(transcripts_pdf, anchors_pdf, inclusive=inclusive))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_asof_forward_skips_causal_guard_and_rejects_bad_direction(spark, transcripts, anchors):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="direction"):
        asof_join(transcripts, anchors, value_cols=VALUE_COLS, direction="sideways")
    # a non-causal-tagged column is fine to read FORWARD (labels read the
    # future by definition) — must not raise
    from pyspark.sql import functions as F2

    from featureengineer_spark.validation import NON_CAUSAL_KEY

    tagged = transcripts.withColumn(
        "centered", F2.col("turn_idx") * 2
    ).withMetadata("centered", {NON_CAUSAL_KEY: True})
    asof_join(
        tagged, anchors, value_cols=["centered"], direction="forward"
    ).limit(1).collect()


@pytest.mark.parametrize("inclusive", [True, False])
def test_salted_asof_forward_equals_plain(inclusive, transcripts, anchors):
    """The reversed-carry (time-chunked) forward as-of join must be
    exactly equivalent to the plain descending window, including anchors
    whose next event lies chunks later and anchors with no later feature
    at all — both inclusivity modes, on the skew fixture whose mega conv
    forces many cross-chunk carries at 60s chunks."""
    from featureengineer_spark.operators.asof import salted_asof_join

    plain = _norm(
        asof_join(
            transcripts, anchors, value_cols=VALUE_COLS,
            direction="forward", inclusive=inclusive,
        ).toPandas()
    )
    salted = _norm(
        salted_asof_join(
            transcripts, anchors, value_cols=VALUE_COLS,
            direction="forward", inclusive=inclusive, chunk_seconds=60.0,
        ).toPandas()
    )
    pd.testing.assert_frame_equal(plain, salted)


def test_asof_auto_forward_routes_salted(transcripts, anchors, transcripts_pdf, anchors_pdf):
    """The auto router now routes direction='forward' to the
    reversed-carry salted path when the heavy probe fires, and the result
    must still match the naive forward spec exactly."""
    from featureengineer_spark.operators import asof_join_auto

    got = _norm(
        asof_join_auto(
            transcripts, anchors, heavy_threshold=1,  # everything "heavy"
            chunk_seconds=60.0,
            value_cols=VALUE_COLS, direction="forward",
        ).toPandas()
    )
    exp = _norm(_forward_oracle(transcripts_pdf, anchors_pdf))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_asof_plan_build_round_trips(spark, monkeypatch):
    """A ``get_spark`` session builds an as-of join plan without per-call
    call-site capture: over a 3-row frame the build costs under half the
    549 Py4J round trips it took with DataFrame debugging on. Builds
    only; no job runs."""
    from py4j import protocol
    from pyspark.sql import functions as F

    feats = spark.createDataFrame(
        [("a", 1, 0), ("a", 2, 1), ("b", 1, 0)], "conv_id string, turn_idx int, s int"
    ).select("conv_id", "turn_idx", F.timestamp_seconds("s").alias("ts"))
    anchors = spark.createDataFrame([("a", 5)], "conv_id string, s int").select(
        "conv_id", F.timestamp_seconds("s").alias("anchor_ts")
    )
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    sent = {"n": 0}

    def counting(command, *args, **kwargs):
        # object-release commands follow Python's GC, not the plan build
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent["n"] += 1
        return orig(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    asof_join(feats, anchors, value_cols=["turn_idx"])  # one-off lookups
    sent["n"] = 0
    asof_join(feats, anchors, value_cols=["turn_idx"])
    assert sent["n"] < 549 // 2, sent["n"]


def test_asof_auto_logs_route(transcripts, anchors, caplog):
    """Every auto call writes one INFO ``asof_route`` line: the route,
    the threshold, and whether a probe job or the memo answered."""
    import json
    import logging

    from featureengineer_spark.operators import skew
    from featureengineer_spark.operators.asof import asof_join_auto

    skew._HEAVY_PROBE_CACHE.clear()
    with caplog.at_level(logging.INFO, logger="featureengineer_spark.operators.asof"):
        asof_join_auto(transcripts, anchors, heavy_threshold=10**9, value_cols=VALUE_COLS)
        asof_join_auto(transcripts, anchors, heavy_threshold=10**9, value_cols=VALUE_COLS)
        asof_join_auto(transcripts, anchors, heavy_threshold=500, value_cols=VALUE_COLS)
    recs = [json.loads(r.getMessage()) for r in caplog.records if "asof_route" in r.getMessage()]
    assert all(r.levelno == logging.INFO for r in caplog.records if "asof_route" in r.getMessage())
    assert [(r["route"], r["heavy_threshold"], r["answered_by"]) for r in recs] == [
        ("plain", 10**9, "probe"),
        ("plain", 10**9, "memo"),
        ("salted", 500, "probe"),
    ]
