"""featureengineer_spark — a PySpark-native point-in-time feature engine.

A from-scratch re-imagining of the capabilities of
``YihengJiang/featureEngineer`` (speaker-verification i-vector pipeline:
SIDEKIT + multiprocessing + mpi4py) as an idiomatic Spark DataFrame engine
over multi-turn transcript tables ``(conv_id, turn_idx, role, text, tool,
ts)``.

Subpackages
-----------
data        deterministic synthetic transcript/anchor generators
operators   window / as-of / sessionization / dedup / similarity / text ops
functions   scalar column helpers (pure ``pyspark.sql.functions`` comps)
plans       FeaturePipeline builder, checkpoint manifest, exact resume
sources     readers/writers, small-file compaction
streaming   Structured Streaming sessionization

Everything is expressed with the public DataFrame API + Arrow-vectorized
pandas UDFs — zero per-row Python in any hot path.
"""

__version__ = "0.1.0"

from featureengineer_spark import _pyworker
from featureengineer_spark.session import get_spark  # noqa: F401

# Unpickling an engine UDF imports this package by reference, so every
# reused Python worker is patched from its first engine task onward.
if _pyworker.in_python_worker():
    _pyworker.install()
