"""End-to-end 5-stage model pipeline with per-stage checkpoints + resume.

Graft of the reference's ``mpiMain`` orchestration (``mpiMain.py:10-19``,
``ivMpi_PipeLine/*``: ubm1 → stat2 → tv3 → iv4 → result5), where every
stage materializes to shared storage (``ubm/ stat/ Tmatrix/ iv/``,
``IVector.py:1719-1729``) and a re-run resumes from whatever is already
committed. Stages here:

1. **features** — transcripts → per-turn ``feature_vec``
   (``kernels.featurize_fast``), parquet + row-count manifest;
2. **ubm** — GMM by EM with binary splitting
   (``em.train_gmm_split``, the reference's 1→2ᵏ schedule), npz + manifest;
3. **stats** — per-conversation stat0/stat1 StatServer
   (``em.sufficient_stats``), parquet + manifest;
4. **tv** — total-variability matrix (``tv.train_total_variability``),
   npz + manifest;
5. **latent** — per-conversation latent factors
   (``tv.extract_latent_factors``), parquet + manifest.

Resume discipline = the repo-wide one (``plans.pipeline.StageStore``): a
stage whose manifest fingerprint matches its parents and parameters and
whose data is committed is served from storage; model stages store the
model as npz with the same manifest JSON. Changing any upstream config
changes every downstream fingerprint, so stale mixtures can never
silently feed the TV stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from featureengineer_spark.plans.pipeline import StageStore

__all__ = ["IVectorConfig", "IVectorPipeline"]

_STAGES = ["features", "ubm", "stats", "tv", "latent"]


@dataclass
class IVectorConfig:
    n_components: int = 4  # power of two (split schedule)
    ubm_iters_per_stage: int = 2
    tv_rank: int = 4
    tv_iters: int = 3
    tv_seed: int = 0
    min_var: float = 1e-6


@dataclass
class IVectorPipeline:
    spark: SparkSession
    root: str
    config: IVectorConfig = field(default_factory=IVectorConfig)
    source_fingerprint: str = "transcripts-v1"
    executed: list[str] = field(default_factory=list)

    def validate(self) -> dict[str, dict]:
        """Audit every committed stage against its manifest."""
        return StageStore(self.spark, self.root).validate(_STAGES)

    def run(self, transcripts: DataFrame) -> DataFrame:
        """Execute (or resume) all five stages; returns the latent-factor
        DataFrame ``(conv_id, latent array<double>)``."""
        from featureengineer_spark.kernels import featurize_fast
        from featureengineer_spark.operators.em import (
            GMM,
            sufficient_stats,
            train_gmm_split,
        )
        from featureengineer_spark.operators.tv import (
            TVModel,
            extract_latent_factors,
            train_total_variability,
        )

        cfg = self.config
        store = StageStore(self.spark, self.root)
        self.executed = store.executed

        feats, fp_feat = store.df_stage(
            "features", [self.source_fingerprint], {},
            lambda: featurize_fast(transcripts),
        )

        def build_ubm() -> dict:
            g = train_gmm_split(
                feats,
                n_components=cfg.n_components,
                n_iter_per_stage=cfg.ubm_iters_per_stage,
                min_var=cfg.min_var,
            )
            return {"weights": g.weights, "means": g.means, "variances": g.variances}

        z, fp_ubm = store.model_stage(
            "ubm", [fp_feat],
            {"k": cfg.n_components, "iters": cfg.ubm_iters_per_stage, "min_var": cfg.min_var},
            build_ubm,
        )
        ubm = GMM(z["weights"], z["means"], z["variances"])

        stats, fp_stats = store.df_stage(
            "stats", [fp_feat, fp_ubm], {}, lambda: sufficient_stats(feats, ubm)
        )

        z, fp_tv = store.model_stage(
            "tv", [fp_stats],
            {"rank": cfg.tv_rank, "iters": cfg.tv_iters, "seed": cfg.tv_seed},
            lambda: {"F_mat": train_total_variability(
                stats, ubm, rank=cfg.tv_rank, n_iter=cfg.tv_iters, seed=cfg.tv_seed
            ).F_mat},
        )
        tv = TVModel(F_mat=z["F_mat"], ubm=ubm)

        latent, _ = store.df_stage(
            "latent", [fp_stats, fp_tv], {}, lambda: extract_latent_factors(stats, tv)
        )
        return latent
