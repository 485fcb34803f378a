"""Sources/sinks: partitioned layout, partition pruning, compaction, CSV."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from featureengineer_spark.sources import (
    compact_small_files,
    read_csv_spine,
    read_transcripts,
    write_transcripts_partitioned,
)

KEY = ["conv_id", "ts", "turn_idx"]


def test_partitioned_roundtrip_and_pruning(spark, transcripts, transcripts_pdf, tmp_path):
    path = str(tmp_path / "store")
    write_transcripts_partitioned(transcripts, path, conv_buckets=8)

    back = read_transcripts(spark, path)
    a = back.toPandas().sort_values(KEY, kind="mergesort").reset_index(drop=True)
    b = transcripts_pdf.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[sorted(a.columns)], b[sorted(b.columns)], check_dtype=False
    )

    # day filter must prune at the partition level, not post-scan
    pruned = spark.read.parquet(path).filter(F.col("ts_day") == "2024-01-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ts_day" in plan
    # and a conv-bucket point lookup prunes to 1/8 of the buckets
    one = spark.read.parquet(path).filter(F.col("conv_bucket") == 3)
    n_files = one.select(F.input_file_name()).distinct().count()
    all_files = spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    assert n_files < all_files


def test_compaction(spark, transcripts, tmp_path):
    small = str(tmp_path / "small")
    transcripts.repartition(40).write.parquet(small)
    big = str(tmp_path / "big")
    n = compact_small_files(spark, small, big, target_files=4)
    assert n == transcripts.count()
    import glob

    assert len(glob.glob(big + "/*.parquet")) == 4


def test_csv_spine_regex_delimiter(spark, tmp_path):
    p = tmp_path / "keys.csv"
    p.write_text("spk1,seg1  10 20\nspk2,seg2  30 40\n")
    df = read_csv_spine(
        spark,
        str(p),
        schema="speaker string, segment string, start long, stop long",
        sep=r",|\s+",
    )
    rows = {tuple(r) for r in df.collect()}
    assert rows == {("spk1", "seg1", 10, 20), ("spk2", "seg2", 30, 40)}


def test_regex_csv_header_skipped_per_file(spark, tmp_path):
    """A glob input has one header line PER FILE; every one must be
    skipped (a single global first-row filter leaves the other files'
    headers as null-cast data rows)."""
    for i in range(3):
        (tmp_path / f"part{i}.csv").write_text(
            "id | name\n" + f"{i}1 | alpha{i}\n" + f"{i}2 | beta{i}\n"
        )
    df = read_csv_spine(
        spark,
        str(tmp_path / "*.csv"),
        "id int, name string",
        sep=r"\s*\|\s*",
        header=True,
    )
    rows = df.collect()
    assert len(rows) == 6
    assert all(r["id"] is not None for r in rows)
    assert sorted(r["id"] for r in rows) == [1, 2, 11, 12, 21, 22]


def test_fixed_width_binary_roundtrip(spark, tmp_path):
    """Synthesize fixed-width (HTK-layout) binary files, decode through
    the binaryFile source, and match the original matrices exactly."""
    import struct

    import numpy as np

    from featureengineer_spark.sources.io import read_fixed_width_frames

    rng = np.random.default_rng(4)
    expected = {}
    for i in range(3):
        n, dim = int(rng.integers(5, 40)), 13
        mat = rng.standard_normal((n, dim)).astype(">f4")
        header = struct.pack(">iihh", n, 100000, dim * 4, 6)
        p = tmp_path / f"f{i}.htk"
        p.write_bytes(header + mat.tobytes())
        expected[str(p)] = mat.astype(np.float64)

    out = read_fixed_width_frames(spark, str(tmp_path), "*.htk").toPandas()
    assert len(out) == sum(m.shape[0] for m in expected.values())
    for path, mat in expected.items():
        sub = out[out["path"].str.endswith(path.split("/")[-1])].sort_values("frame_idx")
        got = np.vstack(sub["frame"].to_numpy())
        np.testing.assert_allclose(got, mat, rtol=1e-7)


def test_orc_store_roundtrip_and_pruning(spark, transcripts, transcripts_pdf, tmp_path):
    """The Iceberg-layout store is format-agnostic: the ORC path must
    roundtrip identically and prune partitions just like parquet."""
    path = str(tmp_path / "store_orc")
    write_transcripts_partitioned(transcripts, path, conv_buckets=8, file_format="orc")

    back = read_transcripts(spark, path, file_format="orc")
    a = back.toPandas().sort_values(KEY, kind="mergesort").reset_index(drop=True)
    b = transcripts_pdf.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[sorted(a.columns)], b[sorted(b.columns)], check_dtype=False
    )

    pruned = spark.read.orc(path).filter(F.col("ts_day") == "2024-01-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ts_day" in plan

    # compaction works over ORC too
    big = str(tmp_path / "orc_compact")
    n = compact_small_files(spark, path, big, target_files=3, file_format="orc")
    assert n == transcripts.count()


def test_read_clustered_whole_file_splits(spark, tmp_path):
    """The REAL whole-file-split contract, pinned un-vacuously: under a
    session whose effective split size is smaller than the bucket files,
    the plain read MUST split files mid-conversation (asserted
    unconditionally — this is what makes the test meaningful), and
    read_clustered of the same store must still keep every file whole,
    with zero clustering violations: four files of about a quarter of
    the store each are one scan partition apiece. Per-read
    DataFrameReader options cannot achieve this (Spark's file-split
    planning consults only the session confs spark.sql.files.*), which
    is why read_clustered executes under a conf-pinned child session."""
    from pyspark.sql import functions as F

    from featureengineer_spark.sources.io import read_clustered
    from featureengineer_spark.validation import partition_clustering_violations

    path = str(tmp_path / "clustered_store")
    (
        spark.range(200_000)
        .select(
            (F.col("id") % 4).cast("string").alias("conv_id"),
            (F.col("id") / 4).cast("int").alias("turn_idx"),
            F.sha2(F.col("id").cast("string"), 256).alias("text"),
        )
        .repartition(4, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.option("parquet.block.size", 64 * 1024)  # many row groups
        .mode("overwrite")
        .parquet(path)
    )
    # force the caller session's effective split size below the ~5 MB
    # files so a plain read is GUARANTEED to split them mid-conversation
    prev_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(64 * 1024))
    try:
        plain = spark.read.parquet(path)
        assert plain.rdd.getNumPartitions() > 4  # files actually split…
        assert partition_clustering_violations(plain).count() > 0  # …mid-conv
        # read_clustered under the SAME hostile session: one partition per
        # file (the split size is at most the largest file ×1.25, so no two
        # of these near-equal files fit one partition, and none is cut)
        clustered = read_clustered(spark, path, validate=True)
        assert clustered.rdd.getNumPartitions() == 4
        assert partition_clustering_violations(clustered).count() == 0
        # caller session conf is untouched by the pinned child session
        assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(1024 * 1024)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_max)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)


def _hostile_split_confs(spark):
    """Set a caller session whose split size is far below the test files;
    returns a restore callable."""
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    prev = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], str(256 * 1024))
    spark.conf.set(keys[1], str(16 * 1024))

    def restore():
        for k, v in zip(keys, prev):
            spark.conf.set(k, v)

    return restore


def _file_spread(df):
    """Largest number of scan partitions any one file's rows land in."""
    return (
        df.select(F.input_file_name().alias("f"), F.spark_partition_id().alias("p"))
        .groupBy("f")
        .agg(F.countDistinct("p").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )


def test_read_clustered_packs_mixed_file_sizes(spark, tmp_path):
    """Whole bucket files are PACKED: 3 large multi-row-group files and
    13 small ones make at most ``defaultParallelism + 2`` scan
    partitions (one file per partition would be 16), under a caller
    session whose split size would cut every large file, with every
    conversation still inside one partition."""
    from featureengineer_spark.sources.io import read_clustered
    from featureengineer_spark.validation import partition_clustering_violations

    path = str(tmp_path / "mixed_store")
    conv = F.when(F.col("id") < 108_000, F.col("id") % 3).otherwise(3 + F.col("id") % 13)
    (
        spark.range(120_000)
        .select(
            F.concat(F.lit("c"), conv.cast("string")).alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.sha2(F.col("id").cast("string"), 256).alias("text"),
        )
        .repartition("conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.option("parquet.block.size", 64 * 1024)
        .partitionBy("conv_id")
        .parquet(path)
    )
    restore = _hostile_split_confs(spark)
    try:
        assert spark.read.parquet(path).rdd.getNumPartitions() > 16  # plain read cuts files
        df = read_clustered(spark, path)
        assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism + 2
        assert partition_clustering_violations(df).count() == 0
        assert _file_spread(df) == 1
        assert df.count() == 120_000
    finally:
        restore()


def test_read_clustered_pruned_read_splits_no_file(spark, tmp_path):
    """A ``conv_bucket`` filter prunes the scan to one bucket: the split
    size Spark derives from the SELECTED bytes must still cover that
    bucket's multi-row-group file whole, under a hostile caller session."""
    from featureengineer_spark.sources.io import read_clustered

    path = str(tmp_path / "bucket_store")
    df = spark.range(100_000).select(
        (F.col("id") % 6).cast("string").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
        F.timestamp_seconds(F.lit(1_704_067_200) + F.col("id") % 3600).alias("ts"),
    )
    df = df.repartition(4, F.pmod(F.xxhash64("conv_id"), F.lit(4)))
    spark.conf.set("parquet.block.size", str(64 * 1024))
    try:
        write_transcripts_partitioned(df, path, conv_buckets=4)
    finally:
        spark.conf.unset("parquet.block.size")
    restore = _hostile_split_confs(spark)
    try:
        for b in range(4):
            pruned = read_clustered(spark, path).filter(F.col("conv_bucket") == b)
            if pruned.limit(1).count():
                assert pruned.rdd.getNumPartitions() == 1, b
                assert _file_spread(pruned) == 1, b
    finally:
        restore()


def test_read_clustered_uri_roots(spark, tmp_path):
    """``file://`` and ``file:`` roots get the same whole-file splits as a
    bare path (they are listed through Hadoop's FileSystem API), and a
    root with no data file raises instead of reading under the caller's
    split confs."""
    import pytest

    from featureengineer_spark.sources.io import read_clustered
    from featureengineer_spark.validation import partition_clustering_violations

    path = str(tmp_path / "uri_store")
    (
        spark.range(60_000)
        .select(
            (F.col("id") % 2).cast("string").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.sha2(F.col("id").cast("string"), 256).alias("text"),
        )
        .repartition(2, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(path)
    )
    (tmp_path / "empty_root").mkdir()
    restore = _hostile_split_confs(spark)
    try:
        bare = read_clustered(spark, path)
        for root in ("file://" + path, "file:" + path):
            df = read_clustered(spark, root)
            assert df.rdd.getNumPartitions() == bare.rdd.getNumPartitions(), root
            assert partition_clustering_violations(df).count() == 0, root
            assert df.schema == bare.schema
        with pytest.raises(FileNotFoundError):
            read_clustered(spark, "file://" + str(tmp_path / "empty_root"))
    finally:
        restore()


def test_read_clustered_schema_memo(spark, tmp_path, monkeypatch):
    """A second read of unchanged files takes its schema from the memo
    (no inference) and gets the same schema; a rewrite of the files
    misses the memo."""
    from featureengineer_spark.sources import io

    path = str(tmp_path / "memo_store")
    spark.range(100).selectExpr("CAST(id AS STRING) AS conv_id", "id AS x").write.parquet(path)
    first = io.read_clustered(spark, path).schema
    n = len(io._SCHEMA_MEMO)
    seen = []
    orig_schema = type(spark.read).schema

    def spy(self, schema):
        seen.append(schema)
        return orig_schema(self, schema)

    monkeypatch.setattr(type(spark.read), "schema", spy)
    assert io.read_clustered(spark, path).schema == first
    assert len(seen) == 1 and len(io._SCHEMA_MEMO) == n
    spark.range(100).selectExpr("CAST(id AS STRING) AS conv_id", "CAST(id AS DOUBLE) AS x").write.mode(
        "overwrite"
    ).parquet(path)
    assert dict(io.read_clustered(spark, path).dtypes)["x"] == "double"
    assert len(seen) == 1
