from featureengineer_spark.plans.pipeline import (  # noqa: F401
    FeaturePipeline,
    StageManifest,
    StageStore,
    fingerprint,
    read_manifest,
)
from featureengineer_spark.plans.ivector import (  # noqa: F401
    IVectorConfig,
    IVectorPipeline,
)
from featureengineer_spark.plans.webcurate import (  # noqa: F401
    WebCurationConfig,
    web_curation_pipeline,
)
