"""Decompose featurize wall time on this host's cores: (a) JVM-only
stat projection + local sort (no Python), (b) the same plan through an
identity ``mapInArrow`` (the fixed per-task Python-worker floor plus
Arrow transfer, no kernel), (c) full featurize (boundary + numpy
kernel), (d) a hashed-key variant that shrinks the string column
crossing the Arrow boundary. (c) - (b) is the kernel's own cost.

Usage: python scripts/profile_featurize.py [cores]   (default: nproc)
Input: the bucketed table of scripts/bench_scaling.py, built on first
use (``SPARK_GRAFT_SCALE_CONVS`` shrinks it). Findings are recorded in
BENCH/BASELINE.md.
"""
import sys, time, json
import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_scaling import ensure_input, register_bucketed
from featureengineer_spark import get_spark
from featureengineer_spark.kernels import featurize_fast

cores = int(sys.argv[1]) if len(sys.argv) > 1 else len(os.sched_getaffinity(0))
ensure_input()
spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores*2,
                  app_name="fe-profile")
spark.sparkContext.setLogLevel("ERROR")
t = register_bucketed(spark)
n = t.count()

def timed(name, df, reps=2):
    df.write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    print(json.dumps({"job": name, "cores": cores, "sec": round(best,3), "turns_per_sec": round(n/best,1)}), flush=True)
    return best

# (a) JVM-only: featurize_fast's pre-kernel projection + local sort, no Python
text = F.coalesce(F.col("text"), F.lit(""))
trimmed = F.trim(text)
pre = t.select(
    "conv_id","turn_idx","ts",
    F.length(text).cast("double").alias("__text_len"),
    F.when(F.length(trimmed)==0, F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+"))).cast("double").alias("__n_words"),
    (F.col("role")=="user").cast("double").alias("__is_user"),
    (F.col("role")=="assistant").cast("double").alias("__is_assistant"),
    (F.col("role")=="system").cast("double").alias("__is_system"),
    F.col("tool").isNotNull().cast("double").alias("__tool_notnull"),
).sortWithinPartitions("conv_id","ts","turn_idx")
timed("jvm_scan_sort_only", pre)

# (b) identity boundary over the same partitioning: one Python task per
# bucket file, every batch sent and returned unchanged
def identity(batches):
    import featureengineer_spark  # noqa: F401  (as unpickling any engine UDF does)
    yield from batches
timed("arrow_identity_floor", pre.mapInArrow(identity, schema=pre.schema))

# (c) full featurize (string conv_id through Arrow)
timed("featurize_full", featurize_fast(t, clustered=True))

# (d) string-free variant: conv_id replaced by xxhash64 BEFORE the kernel
# (cast to string keeps the kernel contract; isolates string size)
t_hashed = t.withColumn("conv_id", F.xxhash64("conv_id").cast("string"))
timed("featurize_short_string_key", featurize_fast(t_hashed, clustered=True))
spark.stop()
