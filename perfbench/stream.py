"""``stream_gate``: the streaming near-dup ingest gate over a grown store.

The history backlog is drained through ``stream_dedup_neardup`` once per
run, outside every measured phase; its checkpoint and band store are the
gate's pristine state.
One pass restarts the gate from a fresh copy of that state on the timed
files, one micro-batch per file, with the operator's default banding.
Every batch probes and appends to a store that is already large and
keeps growing; store growth shows as late-batch latency. Event time
never regresses across files, and each planted near-dup follows its
original within ``MAX_LAG_S`` of event time.

The check (outside the timed phase): the kept set of the last drain
equals ``near_dedup_first_seen`` over history plus timed input ordered by
event time.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import pyarrow.parquet as pq

import fixtures as fx
from harness import MB, Accounting, data_files, median

N_HISTORY = 6000
N_FILES = 6
PER_FILE = 3000
WARM_DOCS = 1000
MAX_LAG_S = 120
DRAIN_TIMEOUT_S = 90
SCHEMA = "doc_id long, text string, ts timestamp"
PER_LAYER = [
    f"streaming.sessions.{c}"
    for c in (
        "add_batch_p50_s", "planning_p50_s", "wal_commit_p50_s", "jobs_per_batch", "exec_run_s",
        "shuffle_mb_per_batch", "spill_mb", "store_rows", "store_files", "output_rows",
    )
]


def _await(q) -> None:
    try:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(f"drain did not finish in {DRAIN_TIMEOUT_S} s")
    finally:
        q.stop()


class StreamGate:
    name = "stream_gate"
    min_passes = 1
    # the history drain already runs the gate at full size
    warm_s = 0.0

    def __init__(self, fixture_dir: str, seed: int):
        self.dir = fixture_dir
        self.seed = seed
        self.work = None  # set by the runner: the run's scratch directory
        self.inputs = {
            key: os.path.join(fixture_dir, key) for key in ("history", "timed", "warm")
        }
        self.drain_s: list[float] = []
        self.batches: list[list[dict]] = []  # per drain: durationMs of each batch
        self.n_docs = N_FILES * PER_FILE
        self.output_rows = self.store_rows = self.store_files = 0

    # ------------------------------------------------------------ fixtures
    def prepare(self) -> None:
        if fx.ready(self.dir):
            return
        fx.fresh_dir(self.dir)
        hist, files = fx.stream_docs(self.seed, N_HISTORY, N_FILES, PER_FILE, MAX_LAG_S)
        # the set-ups' warm-up drain: one small file
        _, warm = fx.stream_docs(self.seed + 1, 0, 1, WARM_DOCS, MAX_LAG_S)
        # the file source orders a backlog by modification time, and the
        # restarted gate must find every new file newer than the history
        mtime = 1_700_000_000
        for key, tables in (("history", [hist]), ("timed", files), ("warm", warm)):
            os.makedirs(self.inputs[key])
            for t in tables:
                mtime += 1
                path = os.path.join(self.inputs[key], f"part-{mtime}.parquet")
                pq.write_table(t, path)
                os.utime(path, (mtime, mtime))
        fx.mark_ready(self.dir)

    def _gate_dirs(self):
        # The gate's input directory is the same for every drain of the
        # run: a restarted file source must find the files its checkpoint
        # recorded under the path it recorded them.
        return os.path.join(self.work, "gate-in"), os.path.join(self.work, "pristine")

    def _link_inputs(self, key) -> None:
        gate_in, _ = self._gate_dirs()
        for f in os.listdir(gate_in):
            if not os.path.exists(os.path.join(self.inputs["history"], f)):
                os.remove(os.path.join(gate_in, f))
        for f in sorted(os.listdir(self.inputs[key])):
            os.link(os.path.join(self.inputs[key], f), os.path.join(gate_in, f))

    def prepare_spark(self, spark) -> None:
        """Drain the history through the gate itself: its checkpoint and
        band store are the state every later drain of the run resumes."""
        from featureengineer_spark.streaming.sessions import stream_dedup_neardup

        gate_in, pristine = self._gate_dirs()
        fx.fresh_dir(gate_in)
        fx.fresh_dir(pristine)
        self._link_inputs("history")
        q = stream_dedup_neardup(
            spark, gate_in, os.path.join(pristine, "out"),
            os.path.join(pristine, "ckpt"), os.path.join(pristine, "store"), SCHEMA,
        )
        _await(q)
        fx.mark_ready(pristine)

    # ------------------------------------------------------------ set-up
    def stage(self) -> None:
        """Copy the gate's pristine state for the warm-up drain."""
        self._stage("warm")

    def register(self, spark) -> None:
        """The query reads its input files itself; nothing to register."""

    def warm(self, spark, tracer, acct: Accounting) -> None:
        self._drain(spark, tracer, acct, "warm", record=False)

    # ------------------------------------------------------------ timed pass
    def run_pass(self, spark, tracer, acct: Accounting, record: bool = True) -> None:
        self._stage("timed")
        self._drain(spark, tracer, acct, "timed", record)

    def _stage(self, key) -> None:
        """Put ``key``'s files beside the history in the gate's input and
        copy the pristine state into the drain's directory."""
        _, pristine = self._gate_dirs()
        d = os.path.join(self.work, f"drain-{key}")
        shutil.rmtree(d, ignore_errors=True)
        if not fx.ready(pristine):
            return  # the drain fails and is counted
        self._link_inputs(key)
        for sub in ("ckpt", "store"):
            shutil.copytree(os.path.join(pristine, sub), os.path.join(d, sub))

    def _drain(self, spark, tracer, acct, key, record: bool) -> None:
        """Restart the gate from the copied state on ``key``'s input files."""
        from featureengineer_spark.streaming.sessions import stream_dedup_neardup

        gate_in, _ = self._gate_dirs()
        d = os.path.join(self.work, f"drain-{key}")
        self.out_dir, self.store_dir = os.path.join(d, "out"), os.path.join(d, "store")

        def drain():
            if not os.path.isdir(self.store_dir):
                raise RuntimeError("no pristine gate state to resume from")
            with tracer.span("streaming.sessions") as sp:
                q = stream_dedup_neardup(
                    spark, gate_in, self.out_dir, os.path.join(d, "ckpt"), self.store_dir,
                    SCHEMA, max_files_per_trigger=1,
                )
                # the query runs its jobs under its run id as job group
                tracer.alias(str(q.runId), sp)
                _await(q)
            # batches that ran (a final no-data trigger has no addBatch)
            return sp.seconds, [dict(p.durationMs) for p in q.recentProgress if "addBatch" in p.durationMs]

        ok, res = acct.call(f"stream drain ({key})", drain)
        if ok and record:
            self.drain_s.append(res[0])
            self.batches.append(res[1])

    # ------------------------------------------------------------ checks
    def check(self, spark, acct: Accounting) -> None:
        if not self.batches:
            acct.check("stream_gate outputs", False, "no complete drain to check")
            return
        acct.check(
            "one micro-batch per file",
            len(self.batches[-1]) == N_FILES,
            f"{len(self.batches[-1])} batches for {N_FILES} files",
        )
        expected = self._expected_kept(spark)
        got = sorted(r[0] for r in spark.read.parquet(self.out_dir).select("doc_id").collect())
        acct.check(
            "kept set vs near_dedup_first_seen",
            got == expected,
            f"kept {len(got)}, expected {len(expected)}, "
            f"{len(set(got) ^ set(expected))} ids differ",
        )
        self.output_rows = len(got)
        self.store_rows = spark.read.parquet(self.store_dir).count()
        self.store_files = data_files(self.store_dir)

    def _expected_kept(self, spark) -> list[int]:
        """Timed doc ids ``near_dedup_first_seen`` keeps over history plus
        timed input. Kept in the fixture directory, which is per source
        digest, so only the program version that computed it reads it."""
        from featureengineer_spark.operators.dedup import near_dedup_first_seen

        path = os.path.join(self.dir, "expected_kept.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        timed = spark.read.parquet(self.inputs["timed"])
        everything = spark.read.parquet(self.inputs["history"]).unionByName(timed)
        kept = near_dedup_first_seen(everything, order_col="ts").join(timed.select("doc_id"), on="doc_id")
        expected = sorted(r[0] for r in kept.select("doc_id").collect())
        with open(path + ".tmp", "w") as f:
            json.dump(expected, f)
        os.replace(path + ".tmp", path)
        return expected

    # ------------------------------------------------------------ metrics
    def _after_first(self, key):
        return [b[key] / 1000.0 for bs in self.batches for b in bs[1:]]

    def _late(self):
        out = []
        for bs in self.batches:
            q = max(1, math.ceil(len(bs) / 4))
            out += [b["triggerExecution"] / 1000.0 for b in bs[-q:]]
        return out

    def end_to_end(self) -> dict:
        p50 = median(self.drain_s)
        late = median(self._late())
        batch_p50 = median(self._after_first("triggerExecution"))
        return {
            "throughput_per_s": PER_FILE / batch_p50,
            "latency_s": batch_p50,
            "named": {
                "docs_per_s": (self.n_docs / p50, "docs/s"),
                "batch_p50_s": (batch_p50, "s"),
                "late_batch_s": (late, "s"),
                "drain_p50_s": (p50, "s"),
                "drains": (len(self.drain_s), "count"),
                "docs": (self.n_docs, "count"),
            },
            "detail": {
                "drain_s": self.drain_s,
                "batch_s": [[b["triggerExecution"] / 1000.0 for b in bs] for bs in self.batches],
            },
        }

    def per_layer(self, tracer, log) -> dict:
        drains = tracer.named("streaming.sessions")
        n_batches = sum(len(bs) for bs in self.batches) or 1
        n_drains = len(drains) or 1
        groups = set().union(*(tracer.subtree(s) for s in drains))
        tot = log.stage_totals(groups)
        jobs = log.jobs_in(groups)
        return {
            "streaming.sessions.add_batch_p50_s": median(self._after_first("addBatch")),
            "streaming.sessions.planning_p50_s": median(self._after_first("queryPlanning")),
            "streaming.sessions.wal_commit_p50_s": median(self._after_first("walCommit")),
            "streaming.sessions.jobs_per_batch": len(jobs) / n_batches,
            "streaming.sessions.exec_run_s": tot["executor_run_ms"] / 1000.0 / n_drains,
            "streaming.sessions.shuffle_mb_per_batch": tot["shuffle_write_bytes"] / MB / n_batches,
            "streaming.sessions.spill_mb": tot["disk_spill_bytes"] / MB / n_drains,
            "streaming.sessions.store_rows": float(self.store_rows),
            "streaming.sessions.store_files": float(self.store_files),
            "streaming.sessions.output_rows": float(self.output_rows),
        }
