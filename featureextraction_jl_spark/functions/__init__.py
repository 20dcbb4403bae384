"""Statistical kernels (SURVEY.md §2 Group A) — the reference's actual surface.

Semantics follow the Julia-stdlib conventions the reference builds on
(SURVEY.md §1.4): Bessel-corrected covariance, eigh-based PCA sorted
descending with sign-fixed components, (x-mu)/sigma z-scores with the
sigma==0 -> 0.0 guard.
"""

from featureextraction_jl_spark.functions.moments import (  # noqa: F401
    Moments,
    batch_moments,
    merge_moments,
    compute_moments,
    compute_grouped_moments,
)
from featureextraction_jl_spark.functions.pca import (  # noqa: F401
    PCAModel,
    fit_pca,
    project_udf,
    inverse_udf,
)
from featureextraction_jl_spark.functions.zscore import (  # noqa: F401
    zscore_global,
    zscore_by_group,
)
