"""Job plans + scale machinery (SURVEY.md §2 Group E, §3.2)."""

from featureextraction_jl_spark.plans.feature_job import run_features, FeatureJobConfig  # noqa: F401
from featureextraction_jl_spark.plans.windowed_pca import (  # noqa: F401
    WindowedPCA,
    fit_windowed_pca,
    project_windowed,
    run_windowed_features,
)
