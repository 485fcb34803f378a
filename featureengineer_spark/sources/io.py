"""Sources & sinks (SURVEY.md §2.1).

=====================  ============================================  =====================
engine function        reference concept                             reference evidence
=====================  ============================================  =====================
read_csv_spine         regex-delimited CSV key scans                 PrepareData.py:157 etc.
write_transcripts_...  HDF5 group-per-segment store                  FeaGet.py:259-284
read_transcripts       HDF5 keyed read + dataset pruning             IVector.py:346-355
compact_small_files    10k-file HDF5 consolidation                   DataInteger.py:150-165
=====================  ============================================  =====================

The transcript store uses the Iceberg physical layout — ``days(ts)`` ×
``bucket(N, conv_id)`` partitioning — emulated as plain parquet directory
partitions (no Iceberg runtime jar is available offline; swapping
``write.partitionBy`` for ``writeTo(...).partitionedBy(days(ts),
bucket(N, conv_id))`` is a one-line change when it is). Partition pruning
on both dimensions is exercised by tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_transcripts_partitioned(
    df: DataFrame,
    path: str,
    conv_buckets: int = 16,
    mode: str = "overwrite",
    file_format: str = "parquet",
) -> None:
    """Write the transcript table in Iceberg layout: day × conv-bucket.

    ``ts_day`` gives temporal partition pruning for ts-range scans;
    ``conv_bucket = pmod(xxhash64(conv_id), N)`` co-locates each
    conversation so per-conversation stages can prune to one bucket and
    as-of joins can use storage-partitioned joins on a real Iceberg
    catalog. ``file_format`` may be ``parquet`` (default) or ``orc`` —
    both columnar formats Iceberg supports; the layout, pruning, and
    downstream plans are format-agnostic."""
    out = df.withColumn("ts_day", F.date_trunc("day", F.col("ts")).cast("date")).withColumn(
        "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(conv_buckets)).cast("int")
    )
    out.write.mode(mode).partitionBy("ts_day", "conv_bucket").format(file_format).save(path)


def read_transcripts(
    spark: SparkSession, path: str, file_format: str = "parquet"
) -> DataFrame:
    """Scan the partitioned transcript store, dropping the physical
    partition columns (they are derivable)."""
    return spark.read.format(file_format).load(path).drop("ts_day", "conv_bucket")


def _hidden(name: str) -> bool:
    """Spark's file-index rule for names it skips (``_SUCCESS``,
    ``_temporary``, ``.crc`` files, uploads in progress); ``_`` names
    holding ``=`` are partition directories and are kept."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _list_data_files(spark: SparkSession, path: str) -> tuple[tuple[str, int, int], ...]:
    """``(relative path, bytes, mtime)`` of every data file Spark would
    read under ``path``, sorted. A bare local path is walked with
    ``os``; a URI root (``file:``, ``hdfs://``, ``s3a://`` …) is listed
    through Hadoop's ``FileSystem`` API. Raises ``FileNotFoundError``
    when the root holds no data file."""
    import os
    from urllib.parse import urlparse

    found = []
    if not urlparse(path).scheme:
        if os.path.isfile(path):
            st = os.stat(path)
            found.append(("", st.st_size, st.st_mtime_ns))
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for f in files:
                if not _hidden(f):
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    found.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    else:
        jvm = spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        base = fs.makeQualified(p).toUri().getPath().rstrip("/")
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            rel = st.getPath().toUri().getPath()[len(base):].lstrip("/")
            if not any(_hidden(part) for part in rel.split("/") if part):
                found.append((rel, st.getLen(), st.getModificationTime()))
    if not found:
        raise FileNotFoundError(f"read_clustered: no data files under {path!r}")
    return tuple(sorted(found))


def _pinned_split_session(spark: SparkSession, split_bytes: int) -> SparkSession:
    """Child session whose file-split confs pack WHOLE files into scan
    partitions: ``maxPartitionBytes = split_bytes`` (at least the largest
    file), ``openCostInBytes = 0`` and ``minPartitionNum = 1``.

    Spark sizes a split as ``min(maxPartitionBytes, max(openCost,
    selectedBytes / minPartitionNum))``, so here it is ``min(split_bytes,
    selectedBytes)``. Both terms are at least the largest SELECTED file —
    the first by construction, the second because that file is part of
    the selection — so no file is ever cut, also when partition pruning
    selects only a few small buckets. Files are then packed next-fit
    decreasing into partitions of up to that size; a file is never spread
    over two of them. (``maxPartitionNum``, if the caller set it, only
    re-packs the same whole files into fewer partitions.)

    File-split planning reads these keys from the SESSION conf at
    execution time — per-read reader options are ignored — so pinning
    them on a child session is the only way to control splits without
    mutating the caller's session. ``cloneSession`` keeps the caller's
    runtime conf overrides (``newSession`` would silently reset e.g. a
    runtime ``shuffle.partitions`` override back to the builder value —
    verified empirically)."""
    try:
        child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    except Exception:  # pragma: no cover - Connect / future API drift
        child = spark.newSession()
    child.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
    child.conf.set("spark.sql.files.openCostInBytes", "0")
    child.conf.set("spark.sql.files.minPartitionNum", "1")
    return child


#: Session confs that change what schema inference returns for the same
#: files; part of the ``_SCHEMA_MEMO`` key.
_INFER_CONFS = (
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.orc.mergeSchema",
    "spark.sql.parquet.binaryAsString",
)
#: Inferred schemas of ``read_clustered`` roots, keyed by SparkContext
#: (``session.probe_token``), root, format, the ``_INFER_CONFS`` values
#: and the listing stamp (every data file's path, size and mtime), so a
#: rewritten store is inferred afresh.
_SCHEMA_MEMO: dict[tuple, T.StructType] = {}
_SCHEMA_MEMO_MAX = 64


def read_clustered(
    spark: SparkSession,
    path: str,
    file_format: str = "parquet",
    validate: bool = False,
    entity_col: str = "conv_id",
    slack: float = 1.25,
) -> DataFrame:
    """Read a conv-bucketed store as WHOLE files packed into about
    ``defaultParallelism`` scan partitions — the safe input for the
    shuffle-free ``clustered=True`` kernels, which need every
    conversation inside one partition and nothing more.

    Spark splits a file larger than the effective split size into
    several scan partitions, which breaks a conversation's carry chain
    MID-FILE while keeping one ``input_file_name`` — the failure mode
    ``validation.partition_clustering_violations`` detects. This reader
    lists the store (``os`` for a bare path, Hadoop's ``FileSystem`` for
    a URI root; a root with no data file raises), sets the split size to
    ``max(largest file × slack, total bytes / defaultParallelism)`` and
    executes the scan under a DEDICATED child session with no open cost
    and a one-partition minimum (``_pinned_split_session``). Every file
    is then one split whatever the caller session's config, and small
    bucket files share a partition: each Python task of a featurizer
    pass has a fixed cost (~50 ms on ``local[4]``), so fewer tasks is
    the win, and the split rule stays whole-file under partition
    pruning (see ``_pinned_split_session``).

    The child session is required for correctness, not hygiene:
    per-read ``DataFrameReader.option(...)`` forms of these keys are
    silently IGNORED by Spark's file-split planning (splitting consults
    only the session confs ``spark.sql.files.*``, at execution time —
    verified empirically on Spark 4.1: the session conf moves a 13 MB
    file's scan between 1 and 200+ partitions while the per-read option
    changes nothing). The child is a ``cloneSession`` (shares the
    SparkContext; inherits the caller's runtime conf overrides, e.g.
    ``shuffle.partitions``, then pins the file confs), falling back to
    ``newSession`` where the clone API is unavailable.

    The inferred schema is memoized per SparkContext, root, format,
    inference confs and listing stamp (``_SCHEMA_MEMO``), so a repeated
    read of unchanged files runs no schema-inference job.

    With ``validate=True`` it additionally runs ``assert_clustered``
    (one count-distinct aggregation) before returning — use once per
    new layout. At 100 TB this is the moment to check the bucket-file
    sizes are sane (a 10 GB bucket file = a 10 GB task; rebucket
    instead of raising the split cap without thought)."""
    from featureengineer_spark.session import probe_token

    files = _list_data_files(spark, path)
    sizes = [size for _, size, _ in files]
    split_bytes = max(int(max(sizes) * slack), sum(sizes) // spark.sparkContext.defaultParallelism, 1)
    session = _pinned_split_session(spark, split_bytes)
    key = (
        probe_token(spark),
        path,
        file_format,
        tuple(session.conf.get(k, None) for k in _INFER_CONFS),
        files,
    )
    reader = session.read.format(file_format)
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        df = reader.schema(schema).load(path)
    else:
        df = reader.load(path)
        if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
            _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
        _SCHEMA_MEMO[key] = df.schema
    if validate:
        from featureengineer_spark.validation import assert_clustered

        assert_clustered(df, entity_col)
    return df


def compact_small_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_files: int,
    file_format: str = "parquet",
) -> int:
    """Small-file compaction: many small files → ``target_files`` larger
    ones (the reference consolidates 10,000 HDF5 files per output,
    ``DataInteger.py:150-165``; Iceberg's ``rewrite_data_files`` is the
    managed equivalent). Returns rows written."""
    df = spark.read.format(file_format).load(in_path)
    df.repartition(target_files).write.mode("overwrite").format(file_format).save(out_path)
    return spark.read.format(file_format).load(out_path).count()


def read_csv_spine(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    sep: str = ",",
    header: bool = False,
) -> DataFrame:
    """CSV key-table scan with DECLARED schema (never inferred in
    production paths) — the reference's ``pd.read_csv(..., delimiter=
    ',|\\s*', header=None)`` sites with regex delimiters are handled by
    reading lines and splitting when ``sep`` is a regex."""
    if len(sep) == 1:
        return spark.read.csv(path, schema=schema, sep=sep, header=header)
    # regex delimiter: read raw lines, split, project into the schema
    raw = spark.read.text(path)
    if header:
        # skip the header PER FILE (a glob input has one header per file;
        # a single global first-row filter would cast the other files'
        # header lines into null-filled data rows)
        from pyspark.sql.window import Window

        w = Window.partitionBy(F.input_file_name()).orderBy(
            F.monotonically_increasing_id()
        )
        raw = (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .drop("__rn")
        )
    parts = F.split(F.col("value"), sep)
    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    cols = [
        F.element_at(parts, i + 1).cast(f.dataType).alias(f.name)
        for i, f in enumerate(struct.fields)
    ]
    return raw.select(*cols)


def read_binary_dir(spark: SparkSession, path: str, pattern: str = "*") -> DataFrame:
    """Opaque-file scan (S2/S3 graft — the reference's HTK/audio readers,
    ``jyh/Utils.py:46-168``): ``binaryFile`` source yields (path,
    modificationTime, length, content binary); decode happens in the
    multimodal Arrow kernels."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
    )


def decode_fixed_width_frames(content: bytes) -> tuple[dict, "np.ndarray"]:
    """Decode one fixed-width binary feature file (the HTK parameter-file
    layout the reference reads, ``jyh/Utils.py:46-168``; format per the
    public HTK book): a 12-byte big-endian header
    ``(n_samples int32, samp_period int32, samp_size int16, parm_kind
    int16)`` followed by ``n_samples × (samp_size/4)`` float32 frames.

    Returns (header dict, (n, dim) float64 matrix). Pure numpy
    ``frombuffer`` — no per-value Python."""
    import struct as _struct

    import numpy as np

    if len(content) < 12:
        raise ValueError(f"truncated header: {len(content)} bytes")
    n_samples, samp_period, samp_size, parm_kind = _struct.unpack(
        ">iihh", content[:12]
    )
    dim = samp_size // 4
    need = 12 + n_samples * samp_size
    if len(content) < need:
        raise ValueError(f"truncated payload: {len(content)} < {need} bytes")
    mat = (
        np.frombuffer(content, dtype=">f4", count=n_samples * dim, offset=12)
        .astype(np.float64)
        .reshape(n_samples, dim)
    )
    header = {
        "n_samples": n_samples,
        "samp_period": samp_period,
        "samp_size": samp_size,
        "parm_kind": parm_kind,
    }
    return header, mat


def read_fixed_width_frames(
    spark: SparkSession, path: str, pattern: str = "*"
) -> DataFrame:
    """binaryFile scan + per-file fixed-width decode → long-form frame
    table ``(path, frame_idx, frame array<double>)`` — the S2 source made
    concrete: one Arrow batch of files in, frames out, zero per-row
    Python (numpy ``frombuffer`` per file)."""
    import pandas as pd

    files = read_binary_dir(spark, path, pattern)
    out_schema = T.StructType(
        [
            T.StructField("path", T.StringType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame", T.ArrayType(T.DoubleType()), False),
        ]
    )

    def fn(batches):
        for pdf in batches:
            paths, idxs, frames = [], [], []
            for p, buf in zip(pdf["path"], pdf["content"]):
                _, mat = decode_fixed_width_frames(bytes(buf))
                paths.extend([p] * len(mat))
                idxs.extend(range(len(mat)))
                frames.extend(list(mat))
            yield pd.DataFrame({"path": paths, "frame_idx": idxs, "frame": frames})

    return files.select("path", "content").mapInPandas(fn, schema=out_schema)
