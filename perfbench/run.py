"""Benchmark entry point.

    python3 perfbench/run.py --workload pit_features --seed 1 --seconds 24 --trace 0

Runs one workload against the public API of ``featureengineer_spark`` on
``local[4]`` from this single driver process, checks its outputs, and
prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it (``{"info": ...}``) records the environment, the workload's
own named metrics and, on a traced run, the tracing overhead.

Everything the run writes stays under ``.perfbench_work/`` at the
checkout root: fixtures (kept per workload, seed and source digest),
Spark's local, warehouse and checkpoint directories, the event log and
temp files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3  # set-ups per run; setup_s is their median


def source_digest() -> str:
    """Digest of the program's and the benchmark's Python sources. Some
    fixtures are made with the program (expected outputs, the gate's
    pristine state), so they are kept per digest: a change to either
    side never runs against fixtures an older version made."""
    h = hashlib.sha256()
    for top in ("featureengineer_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _workloads():
    from pit import PitFeatures
    from stream import StreamGate

    return {w.name: w for w in (PitFeatures, StreamGate)}


def per_layer_names() -> list[str]:
    """Every per-layer metric of every workload, in BENCHMARK.json order."""
    import pit
    import stream

    return pit.PER_LAYER + stream.PER_LAYER


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pit_features", "stream_gate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "featureengineer_spark")):
        print(f"featureengineer_spark not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    # get_spark zips the package into tempfile.gettempdir(); keep it here
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    sys.path[:0] = [HERE, ROOT]
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    import tempfile

    tempfile.tempdir = None
    import pyspark

    import eventlog
    from harness import MASTER, Accounting, median, start_session, stop_jvm
    from tracing import MemorySampler, Tracer

    trace = bool(args.trace)
    fixture_dir = os.path.join(WORK, "fixtures", f"{args.workload}-{args.seed}-{source_digest()}")
    wl = _workloads()[args.workload](fixture_dir, args.seed)
    wl.work = run_dir
    phase_s = {}
    clock = time.perf_counter()
    wl.prepare()
    phase_s["fixtures"] = time.perf_counter() - clock

    # Every operation, set-up and check included, counts in acct; a
    # failure is recorded there and the run goes on to its result line.
    acct = Accounting()
    sampler = MemorySampler(os.getpid()).start()
    try:
        # The first session launches the JVM and builds the Spark-made
        # fixtures. The first set-up after it still pays first-use class
        # loading and compilation; the median of the set-ups leaves it out.
        spark = start_session(run_dir, trace)
        w0 = time.perf_counter()
        phase_s["first_session"] = w0 - clock - phase_s["fixtures"]
        acct.call("spark fixtures", lambda: wl.prepare_spark(spark))
        phase_s["spark_fixtures"] = time.perf_counter() - w0
        setup_s = []
        for _ in range(SETUPS):
            spark.stop()
            wl.stage()
            failed = acct.failed
            t0 = time.perf_counter()
            spark = start_session(run_dir, trace)
            wl.register(spark)
            wl.warm(spark, Tracer(tag_jobs=False), acct)
            if acct.failed == failed:
                setup_s.append(time.perf_counter() - t0)
        phase_s["setups"] = sum(setup_s)

        # Untimed full-size passes in the session the timed phase uses:
        # pass times keep falling over the first full-size passes (the
        # first four of pit_features ran ~25% slower than the later
        # ones), and how fast they settle varies from run to run.
        w1 = last = time.perf_counter()
        failed = acct.failed
        while acct.failed == failed and 2 * time.perf_counter() - last - w1 < wl.warm_s:
            last = time.perf_counter()
            wl.run_pass(spark, Tracer(tag_jobs=False), acct, record=False)
        phase_s["full_size_warm"] = time.perf_counter() - w1

        tracer = Tracer(tag_jobs=trace)
        tracer.bind(spark)
        sampler.reset()
        t0 = time.perf_counter()
        passes = 0
        failed = acct.failed
        while True:
            p0 = time.perf_counter()
            wl.run_pass(spark, tracer, acct)
            passes += 1
            now = time.perf_counter()
            # stop when another pass like the last would overrun --seconds;
            # a failed pass is counted and ends the phase, since repeating
            # it would only repeat the failure
            if acct.failed > failed or (passes >= wl.min_passes and now + (now - p0) - t0 > args.seconds):
                break
        timed_s = time.perf_counter() - t0
        peak_mem = sampler.peak
        t1 = time.perf_counter()
        acct.call("output checks", lambda: wl.check(spark, acct))
        phase_s["check"] = time.perf_counter() - t1
        spark.stop()
    finally:
        sampler.stop()
        stop_jvm()

    e2e = wl.end_to_end()
    ok_ratio = 1.0 - acct.failed / acct.attempted
    metrics = {
        "setup_s": (median(setup_s), "s"),
        "peak_pss_mb": (peak_mem / 2**20, "MB"),
        "ok_ratio": (ok_ratio, "ratio"),
        "throughput_per_s": (e2e["throughput_per_s"], "1/s"),
        "latency_s": (e2e["latency_s"], "s"),
    }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "nproc": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "timed_s": timed_s,
        "phase_s": phase_s,
        "setup_s_all": setup_s,
        "fail_ratio": acct.failed / acct.attempted,
        "failures": acct.failures,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in e2e["named"].items()},
        "detail": e2e["detail"],
    }
    untraced_file = os.path.join(WORK, f"last_untraced_{args.workload}.json")
    if trace:
        log = eventlog.read(os.path.join(run_dir, "eventlog"))
        layer = dict.fromkeys(per_layer_names(), 0.0)
        layer.update(wl.per_layer(tracer, log))
        info["end_to_end_traced"] = {k: v for k, (v, _u) in metrics.items()}
        info["tracing_overhead"] = _overhead(untraced_file, metrics)
        result_metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layer.items()}
    else:
        with open(untraced_file, "w") as f:
            json.dump({k: v for k, (v, _u) in metrics.items()}, f)
        result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"info": _finite(info)}))
    print(
        json.dumps(
            {
                "correct": acct.failed == 0,
                "attempted": acct.attempted,
                "failed": acct.failed,
                "metrics": _finite(result_metrics),
            }
        )
    )
    return 0


def _finite(obj):
    """``obj`` with every NaN (the median of no passes) made ``null``."""
    if isinstance(obj, dict):
        return {k: _finite(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_finite(v) for v in obj]
    if isinstance(obj, float) and not math.isfinite(obj):
        return None
    return obj


def _overhead(untraced_file: str, traced: dict) -> dict:
    """Traced vs the latest untraced run of the same workload on this
    checkout, as (traced - untraced) / untraced per timing metric."""
    if not os.path.exists(untraced_file):
        return {"note": "no untraced run of this workload recorded yet"}
    with open(untraced_file) as f:
        base = json.load(f)
    out = {}
    for k in ("setup_s", "throughput_per_s", "latency_s", "peak_pss_mb"):
        if base.get(k):
            out[k] = (traced[k][0] - base[k]) / base[k]
    return out


def _layer_unit(name: str) -> str:
    counter = name.rsplit(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb") or counter.endswith("_mb_per_batch"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
