"""featureextraction_jl_spark — a PySpark-native point-in-time feature-engineering engine.

A from-scratch reimplementation of the capabilities of
``trthatcher/FeatureExtraction.jl`` (classical feature-extraction transforms:
centering, z-score standardization, streaming mean/covariance accumulation,
PCA and whitening projections) re-expressed Spark-first, composed with the
temporal query surface a 10^12-turn transcript pipeline needs: as-of
(point-in-time) joins, lag/lead, gap-based sessionization, forward-fill
backfill, rolling/tumbling windows — plus dedup / similarity-search / text
analysis operators for large-scale training-data pipelines.

Reference provenance: ``/root/reference`` was empty at build time (see
SURVEY.md §0); the semantics implemented here are the published
Julia-stdlib conventions the reference builds on (Statistics.mean/cov with
Bessel correction, LinearAlgebra.eigen, StatsBase.zscore) pinned in
SURVEY.md §1.4, and the operator surface specified by BASELINE.json's
north_rule.

Design rules (BASELINE.json:6):
  * DataFrame/Catalyst-first; vectorized Arrow/pandas UDFs only where
    built-ins can't express the semantics; never a per-row Python loop.
  * Moments are mergeable (n, mean, M2) partials — treeAggregate-style —
    so per-partition partials and their re-merge are exact.
  * Zero temporal leakage: every feature at (conv_id, ts) is a function of
    turns with ts' <= ts only.
"""

__version__ = "0.1.0"

from featureextraction_jl_spark.session import get_spark  # noqa: F401
