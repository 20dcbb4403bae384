"""The one resume ledger (``manifest.Ledger``) under both stage runners.

For the feature runner and the curate runner alike: a full run, then new
input bytes, then a re-run whose crash hook fires after the first unit's
or stage's data is written and before its manifest.  The validated reader
must refuse that output (the previous run's manifests were removed before
the data was overwritten), and a clean re-run must heal it to the direct
result over the new input.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from featureextraction_jl_spark.manifest import MANIFEST_DIR, SimulatedCrash
from featureextraction_jl_spark.plans import FeatureJobConfig, run_features
from featureextraction_jl_spark.plans.checkpoint import (
    read_feature_output,
    run_features_resumable,
)
from featureextraction_jl_spark.sources import (
    generate_snapshots,
    generate_transcripts,
)
from jobs.curate_corpus import (
    STAGES,
    _STAGE_FNS,
    CurateConfig,
    curate_corpus,
    read_curated,
)

FEATURE_CFG = FeatureJobConfig(k=4, snap_dim=16)
CURATE_CFG = CurateConfig()


class Features:
    """``run_features_resumable`` over 60 conversations in 4 units."""

    def __init__(self, spark, base, sf_dir):
        self.spark = spark
        self.tdir, self.sdir = str(base / "transcripts"), str(base / "snapshots")
        generate_transcripts(spark, 60, seed=11, max_turns=30, mega_turns=0) \
            .write.parquet(self.tdir)
        generate_snapshots(spark, 60, seed=11, dim=16).write.parquet(self.sdir)

    def grow(self):
        generate_transcripts(self.spark, 3, seed=99, max_turns=5,
                             mega_turns=0).write.mode("append").parquet(self.tdir)

    def run(self, out, fail_after=None):
        return run_features_resumable(self.spark, self.tdir, out, self.sdir,
                                      FEATURE_CFG, n_units=4,
                                      fail_after_units=fail_after)

    def read(self, out):
        return read_feature_output(self.spark, out)

    def written(self, out):
        return read_feature_output(self.spark, out, validate=False)

    def new_rows(self):
        """What the crashed re-run's one write holds: every unit."""
        return self.direct().count()

    def direct(self):
        out, _ = run_features(self.spark.read.parquet(self.tdir),
                              self.spark.read.parquet(self.sdir), FEATURE_CFG)
        return out

    @staticmethod
    def assert_same(got, want):
        def rows(df):
            r = df.select("conv_id", "turn_idx", "text", "feature_vec") \
                .orderBy("conv_id", "turn_idx").collect()
            return ([(x.conv_id, x.turn_idx, x.text) for x in r],
                    np.array([x.feature_vec for x in r]))
        (k1, v1), (k2, v2) = rows(got), rows(want)
        assert k1 == k2
        np.testing.assert_allclose(v1, v2, rtol=1e-8, atol=1e-10)


class Curate:
    """``curate_corpus`` over the sf0.001 documents."""

    def __init__(self, spark, base, sf_dir):
        self.spark = spark
        self.docs = str(base / "documents")
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")) \
            .write.parquet(self.docs)

    def grow(self):
        docs = self.spark.read.parquet(self.docs)
        docs.orderBy("doc_id").limit(5) \
            .withColumn("doc_id", F.col("doc_id") + 10**6) \
            .withColumn("text", F.concat(F.col("text"), F.lit(" appended"))) \
            .write.mode("append").parquet(self.docs)

    def run(self, out, fail_after=None):
        return curate_corpus(self.spark, self.docs, out, CURATE_CFG,
                             fail_after_stages=fail_after)

    def read(self, out):
        return read_curated(self.spark, out)

    def written(self, out):
        return self.spark.read.parquet(os.path.join(out, "stage=stats"))

    def new_rows(self):
        """What the crashed re-run's first stage holds: every document."""
        return self.spark.read.parquet(self.docs).count()

    def direct(self):
        df = self.spark.read.parquet(self.docs)
        for stage in STAGES:
            df = _STAGE_FNS[stage](df, CURATE_CFG)
        return df

    @staticmethod
    def assert_same(got, want):
        def rows(df):
            return {r.doc_id: tuple(r)
                    for r in df.select(*want.columns).collect()}
        assert rows(got) == rows(want)


@pytest.mark.parametrize("runner", [Features, Curate],
                         ids=["features", "curate"])
def test_crash_after_data_over_changed_input_never_reads_stale(
        spark, sf_dir, tmp_path, runner):
    r = runner(spark, tmp_path, sf_dir)
    out = str(tmp_path / "out")
    r.run(out)
    r.grow()

    with pytest.raises(SimulatedCrash):
        r.run(out, fail_after=0)
    # the crash came after the new data was written
    assert r.written(out).count() == r.new_rows()
    assert not os.path.exists(os.path.join(out, MANIFEST_DIR, "job.json"))
    with pytest.raises((FileNotFoundError, ValueError)):
        r.read(out)

    r.run(out)
    r.assert_same(r.read(out), r.direct())
