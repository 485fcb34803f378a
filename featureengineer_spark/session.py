"""SparkSession factory with scale-appropriate defaults.

The reference pipeline hand-tunes its physical execution (thread pools,
MPI chunking, batch sizes — ``mpiIV.py:184-214``, ``IVector.py:194-195``).
Here all of that is Spark configuration: AQE for runtime re-planning and
skew splitting, Arrow for vectorized Python boundaries, UTC session time
zone so timestamp semantics are identical between Spark, pandas oracles,
and DuckDB.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

_PROBE_TOKEN_ATTR = "_featureengineer_probe_token"
_probe_token_counter = 0


def probe_token(session: SparkSession) -> int:
    """Stable per-SparkContext cache token for the driver-side probe memos
    (``similarity._SMALL_PROBE_CACHE``, ``skew._HEAVY_PROBE_CACHE``).

    The token lives ON the Python ``SparkContext``, so every session of
    one context shares it: the per-call child session of
    ``sources.io.read_clustered`` (and any ``newSession``/clone) hits the
    memo its parent filled, and a probe runs once per context per
    analyzed plan. A stopped and rebuilt context is a new object and gets
    a new token; ``id()`` is not used because CPython can reuse it after
    garbage collection. A probe verdict depends only on the plan's data,
    never on a session's conf, so sharing it across sessions is sound.
    A stale verdict (files rewritten under the same plan) can change
    only the route a caller takes, never its rows: both routes of each
    memoized decision return the same result."""
    global _probe_token_counter
    sc = session.sparkContext
    tok = getattr(sc, _PROBE_TOKEN_ATTR, None)
    if tok is None:
        _probe_token_counter += 1
        tok = _probe_token_counter
        setattr(sc, _PROBE_TOKEN_ATTR, tok)
    return tok


def _package_zip() -> str:
    """Zip this package so executors can import it — the programmatic
    equivalent of ``spark-submit --py-files`` (north-rule deployment
    mode). Grouped-map UDFs pickle by module reference; without this,
    Python workers launched outside the repo cwd fail to unpickle."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(tempfile.gettempdir(), "featureengineer_spark_pkg.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    return out


def get_spark(
    master: str | None = None,
    app_name: str = "featureengineer-spark",
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the feature engine.

    On a real cluster this is invoked via ``spark-submit --py-files`` and
    ``master`` is left to the submitter; locally tests pass
    ``local[8]``/``local[32]`` to evidence scaling efficiency.

    The session turns off PySpark's DataFrame call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
    every DataFrame/Column call costs about 6-8 extra JVM round trips to
    record where in Python it was made; building one as-of join plan
    took 588 trips with it and 178 without. The price: a runtime error
    (say, a division by zero under ANSI mode) no longer names the Python
    line in its DataFrame query context. To get it back while debugging::

        get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"})

    It is a static conf, read once per Python process, so set it on the
    first session the process builds.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        # Runtime re-planning: coalesce small shuffle partitions, split
        # skewed ones. At 100 TB this is what keeps reducers balanced.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow-vectorized pandas UDF boundary (input_hint requirement:
        # zero per-row Python). maxRecordsPerBatch bounds executor memory
        # per batch — graft of the reference's batch_size=300 discipline
        # (IVector.py:194-195).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
        # Deterministic timestamp semantics across Spark/pandas/DuckDB.
        "spark.sql.session.timeZone": "UTC",
        # Small dims broadcast automatically; explicit broadcast() hints
        # are still used at call sites for clarity.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # Per-call Python call-site capture for DataFrame error contexts:
        # several JVM round trips around every DataFrame/Column call.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:
        pass  # e.g. Connect-only sessions; spark-submit --py-files covers it
    return spark
