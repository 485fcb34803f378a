"""``pit_features``: point-in-time features over a clustered transcript table.

One pass is what a feature refresh does: ``read_clustered`` on the
bucketed table, the window stack, ``featurize_fast(clustered=True)``,
then ``asof_join_auto`` of the features to anchors. Every output goes to
a noop sink, so the featurizer, window and as-of layers do nearly all
the work.

Checks (outside the timed phase) compare a seeded sample of
conversations, one mega-conversation included, with the pandas oracle:
window columns exactly, feature vectors and as-of matches by allclose.
The whole as-of result must hold no row with ``matched_ts > anchor_ts``
and one row per anchor.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import fixtures as fx
from harness import MB, Accounting, median, noop

N_CONVS = 1500
MEGA = 3
MEGA_LEN = 5000
BUCKETS = 16
WARM_CONVS = 150
SAMPLE_CONVS = 12
MEGA_SAMPLE_ANCHORS = 40

WINDOW_COLS = [
    "lag1_role", "lead1_role", "inter_turn_latency_s", "session_id",
    "rolling_user_turns_10", "rolling_assistant_turns_10",
    "rolling_tool_calls_10", "tool_backfilled",
]
LAYERS = ("sources.io", "operators.windows", "kernels", "operators.asof")
PER_LAYER = [
    "sources.io.wall_s", "sources.io.construct_jobs", "sources.io.scan_s", "sources.io.input_mb",
    "operators.windows.wall_s", "operators.windows.jobs", "operators.windows.exec_run_s",
    "operators.windows.sort_s", "operators.windows.spill_mb", "operators.windows.shuffle_write_mb",
    "kernels.wall_s", "kernels.jobs", "kernels.exec_run_s", "kernels.sort_s", "kernels.py_sent_mb",
    "kernels.py_returned_mb", "kernels.py_run_s", "kernels.shuffle_write_mb",
    "operators.asof.wall_s", "operators.asof.construct_s", "operators.asof.construct_jobs",
    "operators.asof.exec_run_s", "operators.asof.shuffle_write_mb", "operators.asof.spill_mb",
]


def window_stack(df):
    from featureengineer_spark.operators import (
        with_backfill,
        with_inter_turn_latency,
        with_lags,
        with_rolling_counts,
        with_session_ids,
    )
    from featureengineer_spark.operators.windows import default_rolling_predicates

    df = with_lags(df, ["role"], offsets=(1,))
    df = with_inter_turn_latency(df)
    df = with_session_ids(df, idle_timeout_s=fx.IDLE_TIMEOUT_S)
    df = with_rolling_counts(df, default_rolling_predicates(), window=10)
    df = with_backfill(df, "tool")
    return df.select("conv_id", "turn_idx", "ts", *WINDOW_COLS)


def _us(series: pd.Series) -> np.ndarray:
    """Timestamps as epoch microseconds, whatever their pandas dtype."""
    s = pd.to_datetime(series, utc=True)
    return s.astype("int64").to_numpy() // 1000


class PitFeatures:
    name = "pit_features"
    min_passes = 4
    # untimed full-size passes before the timed phase, while another
    # pass like the last still fits (one pass of ~3 s)
    warm_s = 5.0

    def __init__(self, fixture_dir: str, seed: int):
        self.dir = fixture_dir
        self.seed = seed
        self.table = os.path.join(fixture_dir, "transcripts")
        self.anchor_file = os.path.join(fixture_dir, "anchors.parquet")
        self.warm_table = os.path.join(fixture_dir, "warm_transcripts")
        self.warm_anchor_file = os.path.join(fixture_dir, "warm_anchors.parquet")
        self.exp_feat = os.path.join(fixture_dir, "expected_features.parquet")
        self.exp_asof = os.path.join(fixture_dir, "expected_asof.parquet")
        self.pass_s: list[float] = []
        self.asof_s: list[float] = []
        self.layer_s: list[dict[str, float]] = []
        self.last = None

    # ------------------------------------------------------------ fixtures
    def prepare(self) -> None:
        if fx.ready(self.dir):
            return
        from featureengineer_spark.oracle import oracle_asof, oracle_features

        fx.fresh_dir(self.dir)
        t = fx.transcripts(self.seed, N_CONVS, MEGA, MEGA_LEN)
        a = fx.anchors(self.seed, t)
        fx.write_bucketed(t, self.table, BUCKETS)
        pq.write_table(a, self.anchor_file)
        wt = fx.transcripts(self.seed + 1, WARM_CONVS, 1, 500)
        fx.write_bucketed(wt, self.warm_table, 4)
        pq.write_table(fx.anchors(self.seed + 1, wt), self.warm_anchor_file)

        rng = np.random.default_rng([self.seed, 6])
        mega = f"conv_{int(rng.integers(0, MEGA))}"
        sample = [mega] + [f"conv_{int(i)}" for i in rng.choice(np.arange(MEGA, N_CONVS), SAMPLE_CONVS, replace=False)]
        tp = t.to_pandas()
        tp = tp[tp["conv_id"].isin(sample)].reset_index(drop=True)
        feats = oracle_features(tp, idle_timeout_s=fx.IDLE_TIMEOUT_S)
        ap = a.to_pandas()
        ap = ap[ap["conv_id"].isin(sample)]
        mega_rows = ap[ap["conv_id"] == mega]
        keep = rng.choice(len(mega_rows), min(MEGA_SAMPLE_ANCHORS, len(mega_rows)), replace=False)
        ap = pd.concat([ap[ap["conv_id"] != mega], mega_rows.iloc[np.sort(keep)]]).reset_index(drop=True)
        asof = oracle_asof(feats, ap, value_cols=["turn_idx", "feature_vec"])
        asof["anchor_us"] = _us(asof["anchor_ts"])
        asof["matched_us"] = np.where(asof["matched_ts"].isna(), -1, _us(asof["matched_ts"].fillna(pd.Timestamp(0, tz="UTC"))))
        asof["turn_idx"] = asof["turn_idx"].astype("float64")
        feats.drop(columns=["ts"]).to_parquet(self.exp_feat)
        asof.drop(columns=["anchor_ts", "matched_ts"]).to_parquet(self.exp_asof)
        fx.mark_ready(self.dir)

    def prepare_spark(self, spark) -> None:
        """Nothing of this workload's fixture needs Spark."""

    # ------------------------------------------------------------ set-up
    def stage(self) -> None:
        """Nothing to copy before a set-up."""

    def register(self, spark) -> None:
        self.anchors = spark.read.parquet(self.anchor_file)
        self.warm_anchors = spark.read.parquet(self.warm_anchor_file)
        self.n_anchors = pq.read_metadata(self.anchor_file).num_rows
        self.n_turns = pq.ParquetDataset(self.table).read(columns=["turn_idx"]).num_rows

    def warm(self, spark, tracer, acct: Accounting) -> None:
        """One untimed pass over a small table of the same shape: compiles
        the query code and starts the Python workers of this session."""
        self._pass(spark, tracer, acct, self.warm_table, self.warm_anchors, keep=False)

    # ------------------------------------------------------------ timed pass
    def run_pass(self, spark, tracer, acct: Accounting, record: bool = True) -> None:
        self._pass(spark, tracer, acct, self.table, self.anchors, keep=record)

    def _pass(self, spark, tracer, acct, table, anchors, keep: bool) -> None:
        from featureengineer_spark.kernels import featurize_fast
        from featureengineer_spark.operators.asof import asof_join_auto
        from featureengineer_spark.sources.io import read_clustered

        st: dict = {}

        def io():
            st["t"] = read_clustered(spark, table)

        def windows():
            st["w"] = window_stack(st["t"])
            noop(st["w"])

        def kernels():
            st["f"] = featurize_fast(st["t"], clustered=True).persist()
            noop(st["f"])

        def asof():
            with tracer.span("construct"):
                st["a"] = asof_join_auto(st["f"], anchors, value_cols=["turn_idx", "feature_vec"])
            with tracer.span("execute"):
                noop(st["a"])

        steps = [("sources.io", io), ("operators.windows", windows), ("kernels", kernels), ("operators.asof", asof)]
        broken = False
        walls: dict[str, float] = {}
        with tracer.span("pass") as p:
            for layer, fn in steps:
                if broken:
                    acct.attempted += 1
                    acct.fail(layer, "skipped: an earlier step of the pass failed")
                    continue

                def traced(layer=layer, fn=fn):
                    with tracer.span(layer) as sp:
                        fn()
                    walls[layer] = sp.seconds

                ok, _ = acct.call(layer, traced)
                broken = not ok
        if keep:
            if self.last is not None:
                self.last["f"].unpersist()
            if not broken:
                self.pass_s.append(p.seconds)
                self.asof_s.append(walls["operators.asof"])
                self.layer_s.append(walls)
            self.last = st if "f" in st else None
        elif "f" in st:
            st["f"].unpersist()

    # ------------------------------------------------------------ checks
    def check(self, spark, acct: Accounting) -> None:
        from pyspark.sql import functions as F

        if self.last is None or "a" not in self.last:
            acct.check("pit_features outputs", False, "no complete pass to check")
            return
        st = self.last
        exp_f = pd.read_parquet(self.exp_feat)
        exp_a = pd.read_parquet(self.exp_asof)
        sample = sorted(exp_f["conv_id"].unique())
        in_sample = F.col("conv_id").isin(sample)

        got_w = st["w"].filter(in_sample).drop("ts").toPandas()
        m = exp_f.merge(got_w, on=["conv_id", "turn_idx"], how="outer", suffixes=("_e", "_g"), indicator=True)
        problems = []
        if not (m["_merge"] == "both").all() or len(m) != len(exp_f):
            problems.append(f"window rows: expected {len(exp_f)}, got {len(got_w)}")
        else:
            for c in WINDOW_COLS:
                e, g = m[f"{c}_e"], m[f"{c}_g"]
                if e.dtype == object or g.dtype == object:
                    bad = ~((e.isna() & g.isna()) | (e == g))
                else:
                    bad = ~np.isclose(e.astype(float), g.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True)
                if bad.any():
                    problems.append(f"{c}: {int(bad.sum())} rows differ")
        acct.check("windows vs oracle", not problems, "; ".join(problems))

        got_f = st["f"].filter(in_sample).select("conv_id", "turn_idx", "feature_vec").toPandas()
        mf = exp_f[["conv_id", "turn_idx", "feature_vec"]].merge(got_f, on=["conv_id", "turn_idx"], suffixes=("_e", "_g"))
        ok = len(mf) == len(exp_f) and np.allclose(
            np.stack(mf["feature_vec_e"].to_numpy()), np.stack(mf["feature_vec_g"].to_numpy()), rtol=1e-5, atol=1e-8
        )
        acct.check("featurize_fast vs oracle", ok, f"{len(mf)} of {len(exp_f)} rows matched")

        got_a = (
            st["a"].filter(in_sample)
            .select(
                "conv_id",
                F.unix_micros("anchor_ts").alias("anchor_us"),
                F.coalesce(F.unix_micros("matched_ts"), F.lit(-1)).alias("matched_us_g"),
                F.col("turn_idx").cast("double").alias("turn_idx_g"),
                F.col("feature_vec").alias("fv_g"),
            )
            .toPandas()
        )
        ma = exp_a.merge(got_a, on=["conv_id", "anchor_us"], how="left")
        ok = len(ma) == len(exp_a) and (ma["matched_us"] == ma["matched_us_g"]).all()
        ok = ok and np.array_equal(ma["turn_idx"].to_numpy(), ma["turn_idx_g"].to_numpy(), equal_nan=True)
        if ok:
            has = ma["matched_us"] >= 0
            ok = (ma.loc[~has, "fv_g"].isna()).all() and np.allclose(
                np.stack(ma.loc[has, "feature_vec"].to_numpy()), np.stack(ma.loc[has, "fv_g"].to_numpy()),
                rtol=1e-5, atol=1e-8,
            )
        acct.check("asof_join_auto vs oracle", bool(ok), f"{len(exp_a)} sampled anchors")

        leaks = st["a"].filter(F.col("matched_ts") > F.col("anchor_ts")).count()
        acct.check("as-of temporal leakage", leaks == 0, f"{leaks} rows with matched_ts > anchor_ts")
        rows = st["a"].count()
        acct.check("as-of row count", rows == self.n_anchors, f"{rows} rows for {self.n_anchors} anchors")
        st["f"].unpersist()

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict:
        p50 = median(self.pass_s)
        asof_p50 = median(self.asof_s)
        return {
            "throughput_per_s": self.n_turns / p50,
            "latency_s": p50,
            "named": {
                "turns_per_s": (self.n_turns / p50, "turns/s"),
                "asof_anchors_per_s": (self.n_anchors / asof_p50, "anchors/s"),
                "pass_p50_s": (p50, "s"),
                "passes": (len(self.pass_s), "count"),
                "turns": (self.n_turns, "count"),
                "anchors": (self.n_anchors, "count"),
            },
            "detail": {"pass_s": self.pass_s, "layer_s": self.layer_s},
        }

    def per_layer(self, tracer, log) -> dict:
        """Per-pass layer counters: walls are medians over passes, work
        counters are means per pass, over the passes
        :meth:`end_to_end` uses."""
        passes = tracer.named("pass")
        out: dict[str, float] = {}

        def per_pass(name):
            return [c for p in passes for c in tracer.children(p, name)]

        def mean(vals):
            return sum(vals) / len(passes) if passes else 0.0

        for layer in LAYERS:
            spans = per_pass(layer)
            jobs = [len(log.jobs_in(tracer.subtree(s))) for s in spans]
            tot = [log.stage_totals(tracer.subtree(s)) for s in spans]

            def total(key, scale=1.0, tot=tot):
                return mean([t[key] for t in tot]) * scale

            out[f"{layer}.wall_s"] = median(s.seconds for s in spans)
            if layer == "sources.io":
                whole = [log.stage_totals(tracer.subtree(p)) for p in passes]
                out["sources.io.construct_jobs"] = mean(jobs)
                out["sources.io.scan_s"] = mean([t["scan_ms"] for t in whole]) / 1000.0
                out["sources.io.input_mb"] = mean([t["input_bytes"] for t in whole]) / MB
                continue
            out[f"{layer}.exec_run_s"] = total("executor_run_ms", 1e-3)
            out[f"{layer}.shuffle_write_mb"] = total("shuffle_write_bytes", 1 / MB)
            if layer == "operators.asof":
                cons = [c for s in spans for c in tracer.children(s, "construct")]
                out["operators.asof.construct_s"] = median(c.seconds for c in cons)
                out["operators.asof.construct_jobs"] = mean([len(log.jobs_in(tracer.subtree(c))) for c in cons])
                out["operators.asof.spill_mb"] = total("disk_spill_bytes", 1 / MB)
                continue
            out[f"{layer}.jobs"] = mean(jobs)
            out[f"{layer}.sort_s"] = total("sort_ms", 1e-3)
            if layer == "operators.windows":
                out["operators.windows.spill_mb"] = total("disk_spill_bytes", 1 / MB)
            else:
                out["kernels.py_sent_mb"] = total("py_sent_bytes", 1 / MB)
                out["kernels.py_returned_mb"] = total("py_returned_bytes", 1 / MB)
                out["kernels.py_run_s"] = total("py_run_ms", 1e-3)
        return out
