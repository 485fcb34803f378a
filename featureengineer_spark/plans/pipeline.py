"""Checkpointed multi-stage feature pipeline with exact resume.

Graft of the reference's stage materialization + failure-ledger
discipline: every pipeline stage writes its output to shared storage
(HDF5 per stage dirs ``ubm/ stat/ Tmatrix/ iv/ score/``,
``IVector.py:1719-1729``) and failed per-file work is recorded and
re-run from a pickle ledger (``FeaGet.py:127-144``). Here:

* each stage materializes to parquet under ``<root>/<stage>/data`` (or,
  for a model stage, to ``<root>/<stage>/model.npz``);
* a JSON manifest (``<root>/<stage>/manifest.json``) records the stage
  id, its :func:`fingerprint` (stage name + parent fingerprints +
  parameters), the parent fingerprints, per-partition row counts, and
  total rows — the per-partition lineage + metrics the north rule
  requires;
* on re-run, a stage whose manifest matches its fingerprint is
  **skipped** and served from storage (exact resume); any stage whose
  lineage or parameters changed recomputes, and everything downstream
  follows.

:class:`StageStore` is that discipline, once: :class:`FeaturePipeline`,
``plans.ivector.IVectorPipeline`` and ``plans.webcurate`` all run on it.

The builder mirrors the reference's fluent scoring chain
(``IVector.py:1763-1794``: ``iv.two_covariance_Score().selectDataForPlda()
.PLDA_Score()...``) — lazily composed DataFrame transforms with explicit
materialization points, Catalyst optimizing within each stage.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MODEL_SCHEMA = "model.npz:"  # manifest ``schema`` prefix of npz model stages


@dataclass
class StageManifest:
    stage: str
    fingerprint: str
    parents: list[str]
    total_rows: int
    partition_rows: dict[str, int]
    written_at: float
    schema: str

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=2, sort_keys=True)


def read_manifest(root: str, stage: str) -> StageManifest | None:
    path = os.path.join(root, stage, "manifest.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return StageManifest(**json.load(f))


def _partition_counts(spark: SparkSession, data_dir: str) -> dict[str, int]:
    """Per-file row counts of a committed stage — the lineage metric.

    Uses parquet metadata via a grouped count over ``input_file_name``
    (one scan, no per-file driver loop)."""
    df = spark.read.parquet(data_dir)
    rows = (
        df.groupBy(F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"))
        .count()
        .collect()
    )
    return {r["file"]: r["count"] for r in rows}


def _canonical(value):
    """``value`` with every set sorted and every tuple a list, so equal
    parameters digest equally under any ``PYTHONHASHSEED``."""
    if isinstance(value, dict):
        return {str(k): _canonical(v) for k, v in value.items()}
    if isinstance(value, (set, frozenset)):
        return sorted(
            (_canonical(v) for v in value),
            key=lambda v: json.dumps(v, sort_keys=True, default=str),
        )
    if isinstance(value, (list, tuple)):
        return [_canonical(v) for v in value]
    return value


def fingerprint(name: str, parents: list[str], params: dict | None = None) -> str:
    """Stage identity = name + parent fingerprints + parameters. Any
    change to a parameter or an upstream stage changes it, so resume
    never serves output computed under other settings. Transform code
    changes should bump the stage name (the reference versions its
    stage dirs the same way: ``ubm_2048.h5`` vs ``ubm_1024.h5``)."""
    blob = json.dumps(
        [name, list(parents), _canonical(params or {})], sort_keys=True, default=str
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


@dataclass
class StageStore:
    """Checkpointed stages under ``root``: ``<root>/<stage>/data`` (parquet)
    or ``<root>/<stage>/model.npz``, each attested by
    ``<root>/<stage>/manifest.json``.

    A stage is served from storage when its manifest carries the expected
    fingerprint and its data is committed; otherwise it is built, written,
    counted and its manifest committed last. The old manifest is removed
    before the data is overwritten, so a run that dies between the two
    writes leaves the stage unattested rather than attested by a manifest
    that describes other data."""

    spark: SparkSession
    root: str
    executed: list[str] = field(default_factory=list)  # stages built, not resumed

    def _path(self, stage: str, *parts: str) -> str:
        return os.path.join(self.root, stage, *parts)

    def _committed(self, stage: str, fp: str, marker: str) -> bool:
        m = read_manifest(self.root, stage)
        return bool(m and m.fingerprint == fp and os.path.exists(marker))

    def _drop_manifest(self, stage: str) -> None:
        try:
            os.remove(self._path(stage, "manifest.json"))
        except FileNotFoundError:
            pass

    def _commit(
        self, stage: str, fp: str, parents: list[str], total_rows: int,
        partition_rows: dict[str, int], schema: str,
    ) -> None:
        """Write the manifest last, atomically; the stage counts as executed."""
        manifest = StageManifest(
            stage=stage,
            fingerprint=fp,
            parents=list(parents),
            total_rows=total_rows,
            partition_rows=partition_rows,
            written_at=time.time(),
            schema=schema,
        )
        tmp = self._path(stage, "manifest.json.tmp")
        with open(tmp, "w") as f:
            f.write(manifest.to_json())
        os.replace(tmp, self._path(stage, "manifest.json"))
        self.executed.append(stage)

    def df_stage(
        self,
        name: str,
        parents: list[str],
        params: dict,
        build: Callable[[], DataFrame],
    ) -> tuple[DataFrame, str]:
        """Resume or build a parquet stage; returns (stage data, fingerprint)."""
        fp = fingerprint(name, parents, params)
        data_dir = self._path(name, "data")
        if not self._committed(name, fp, os.path.join(data_dir, "_SUCCESS")):
            df = build()
            self._drop_manifest(name)
            df.write.mode("overwrite").parquet(data_dir)
            part_rows = _partition_counts(self.spark, data_dir)
            schema = self.spark.read.parquet(data_dir).schema.simpleString()
            self._commit(
                name, fp, parents, sum(part_rows.values()), part_rows, schema
            )
        return self.spark.read.parquet(data_dir), fp

    def model_stage(
        self,
        name: str,
        parents: list[str],
        params: dict,
        build: Callable[[], dict[str, np.ndarray]],
    ) -> tuple[dict[str, np.ndarray], str]:
        """Resume or build an npz model stage; returns (arrays, fingerprint)."""
        fp = fingerprint(name, parents, params)
        path = self._path(name, "model.npz")
        if not self._committed(name, fp, path):
            arrays = build()
            self._drop_manifest(name)
            os.makedirs(self._path(name), exist_ok=True)
            tmp = path + ".tmp.npz"  # np.savez appends .npz unless present
            np.savez(tmp, **arrays)
            os.replace(tmp, path)
            sizes = {k: int(np.asarray(v).size) for k, v in arrays.items()}
            self._commit(
                name, fp, parents, 0, sizes, _MODEL_SCHEMA + ",".join(sorted(arrays))
            )
        with np.load(path) as z:
            return {k: z[k] for k in z.files}, fp

    def validate(self, names: list[str]) -> dict[str, dict]:
        """Audit committed stages against their manifests — parquet stages
        by per-file row counts, model stages by npz array sizes (the
        reference's expected-vs-produced completeness diff,
        ``FeaGet.py:116-131``)."""
        report: dict[str, dict] = {}
        for name in names:
            m = read_manifest(self.root, name)
            if m is None:
                report[name] = {"status": "missing"}
            elif m.schema.startswith(_MODEL_SCHEMA):
                path = self._path(name, "model.npz")
                if not os.path.exists(path):
                    report[name] = {"status": "corrupt", "reason": "npz missing"}
                    continue
                with np.load(path) as z:
                    sizes = {k: int(z[k].size) for k in z.files}
                ok = sizes == m.partition_rows
                report[name] = {"status": "ok" if ok else "corrupt", "arrays": sizes}
            else:
                try:
                    actual = _partition_counts(self.spark, self._path(name, "data"))
                except AnalysisException:  # data dir or every part file gone
                    actual = {}
                ok = actual == m.partition_rows
                report[name] = {
                    "status": "ok" if ok else "corrupt",
                    "expected_rows": m.total_rows,
                    "actual_rows": sum(actual.values()),
                }
        return report


@dataclass
class _Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]


@dataclass
class FeaturePipeline:
    """Fluent, checkpointed pipeline over a source DataFrame.

    >>> pipe = (FeaturePipeline(spark, root="/ckpt")
    ...         .source(lambda s: s.read.parquet(path))
    ...         .stage("sessionized", lambda df: with_session_ids(df))
    ...         .stage("features", lambda df: featurize_fast(df)))
    >>> out = pipe.run()          # stage-by-stage, resuming completed work
    """

    spark: SparkSession
    root: str
    _source: Callable[[SparkSession], DataFrame] | None = None
    _source_fingerprint: str | None = None
    _stages: list[_Stage] = field(default_factory=list)
    executed: list[str] = field(default_factory=list)  # stage names computed (not resumed)

    def source(
        self, fn: Callable[[SparkSession], DataFrame], fingerprint: str = "source-v1"
    ) -> "FeaturePipeline":
        """Register the input. ``fingerprint`` should change when the
        input data changes (e.g. an Iceberg snapshot id / path + mtime);
        resume correctness depends on it."""
        self._source = fn
        self._source_fingerprint = fingerprint
        return self

    def stage(self, name: str, fn: Callable[[DataFrame], DataFrame]) -> "FeaturePipeline":
        self._stages.append(_Stage(name, fn))
        return self

    def run(self) -> DataFrame:
        """Execute stage by stage; completed stages (matching fingerprint
        + committed data) are read back instead of recomputed."""
        if self._source is None:
            raise ValueError("pipeline has no source()")
        store = StageStore(self.spark, self.root)
        self.executed = store.executed
        df = self._source(self.spark)
        fp = self._source_fingerprint or "source-v1"
        for stage in self._stages:
            df, fp = store.df_stage(
                stage.name, [fp], {}, lambda fn=stage.fn, df=df: fn(df)
            )
        return df

    def validate(self) -> dict[str, dict]:
        """Audit committed stages against their manifests (row counts per
        file)."""
        return StageStore(self.spark, self.root).validate(
            [s.name for s in self._stages]
        )
