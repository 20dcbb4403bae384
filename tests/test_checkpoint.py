"""E3 checkpoint/resume: kill-resume equivalence + manifest protocol."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from featureextraction_jl_spark.plans import FeatureJobConfig, run_features
from featureextraction_jl_spark.plans.checkpoint import (
    SimulatedCrash,
    config_hash,
    input_fingerprint,
    read_feature_output,
    run_features_resumable,
)
from featureextraction_jl_spark.sources import generate_snapshots, generate_transcripts

CFG = FeatureJobConfig(k=4, snap_dim=16)
N_UNITS = 4


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ckpt_inputs")
    tdir, sdir = str(base / "transcripts"), str(base / "snapshots")
    generate_transcripts(spark, 150, seed=7, max_turns=60, mega_turns=400) \
        .write.parquet(tdir)
    generate_snapshots(spark, 150, seed=7, dim=16).write.parquet(sdir)
    return tdir, sdir


def _collect(df):
    rows = df.select("conv_id", "turn_idx", "text", "feature_vec") \
        .orderBy("conv_id", "turn_idx").collect()
    vecs = np.array([r.feature_vec for r in rows])
    keys = [(r.conv_id, r.turn_idx, r.text) for r in rows]
    return keys, vecs


@pytest.fixture(scope="module")
def direct(spark, inputs):
    tdir, sdir = inputs
    out, _ = run_features(spark.read.parquet(tdir),
                          spark.read.parquet(sdir), CFG)
    return _collect(out)


def test_resumable_equals_direct(spark, inputs, direct, tmp_path):
    tdir, sdir = inputs
    out = str(tmp_path / "out")
    job = run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)

    k1, v1 = _collect(read_feature_output(spark, out))
    k2, v2 = direct
    assert k1 == k2                      # byte-equal text, identical ordering
    np.testing.assert_allclose(v1, v2, rtol=1e-8, atol=1e-10)
    assert job["rows"] == len(k1)
    assert sorted(job["units_computed_this_run"]) == list(range(N_UNITS))
    # every unit manifest's rows is what its unit=<i>/ dir holds
    got = dict(read_feature_output(spark, out).groupBy("unit").count().collect())
    for u in range(N_UNITS):
        assert _unit_manifest(out, u)["rows"] == got.get(u, 0), u


def _unit_manifest(out: str, u: int) -> dict:
    with open(os.path.join(out, "_manifest", f"unit_{u}.json")) as f:
        return json.load(f)


def test_one_write_job_whatever_n_units(spark, spark_jobs, inputs, tmp_path):
    """The transform stage is one Spark write for all pending units: a fresh
    run launches the same number of jobs for 2 units as for 4."""
    tdir, sdir = inputs
    counts = [spark_jobs(lambda n=n: run_features_resumable(
        spark, tdir, str(tmp_path / f"out{n}"), sdir, CFG, n_units=n))
        for n in (2, 4)]
    assert counts[0] == counts[1], counts


def test_data_files_bounded_by_shuffle_partitions(spark, inputs, tmp_path):
    """The unit hash is the conv_id exchange's own, so with the shuffle
    partitions a multiple of n_units each write task holds one unit and
    writes one file — not one file per (task, unit)."""
    tdir, sdir = inputs
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out = str(tmp_path / "out")
        job = run_features_resumable(spark, tdir, out, sdir, CFG,
                                     n_units=N_UNITS)
    finally:
        spark.conf.set(key, old)
    n_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n_tasks % N_UNITS == 0
    files = sum(_unit_manifest(out, u)["output_files"] for u in range(N_UNITS))
    assert 0 < files <= n_tasks, files
    assert job["rows"] > 0


def test_empty_units_stay_readable(spark, inputs, tmp_path):
    """A pending unit without rows still gets a unit=<i>/ carrying the
    schema and a ``rows: 0`` manifest, and a resume skips it."""
    tdir, sdir = inputs
    unit = F.pmod(F.hash("conv_id"), F.lit(N_UNITS))
    convs = [r.conv_id for r in spark.read.parquet(tdir).filter(unit == 0)
             .select("conv_id").distinct().orderBy("conv_id").limit(2).collect()]
    small = {}
    for name, path in (("transcripts", tdir), ("snapshots", sdir)):
        small[name] = str(tmp_path / name)
        spark.read.parquet(path).filter(F.col("conv_id").isin(convs)) \
            .write.parquet(small[name])
    out = str(tmp_path / "out")
    job = run_features_resumable(spark, small["transcripts"], out,
                                 small["snapshots"], CFG, n_units=N_UNITS)
    rows = [_unit_manifest(out, u)["rows"] for u in range(N_UNITS)]
    assert rows[0] == job["rows"] > 0
    assert all(rows[u] == 0 for u in range(1, N_UNITS))

    empty = spark.read.parquet(os.path.join(out, "unit=1"))
    assert empty.count() == 0 and "feature_vec" in empty.columns
    got = read_feature_output(spark, out)
    assert "unit" in got.columns
    want, _ = run_features(spark.read.parquet(small["transcripts"]),
                           spark.read.parquet(small["snapshots"]), CFG)
    k1, v1 = _collect(got)
    k2, v2 = _collect(want)
    assert k1 == k2
    np.testing.assert_allclose(v1, v2, rtol=1e-8, atol=1e-10)

    job2 = run_features_resumable(spark, small["transcripts"], out,
                                  small["snapshots"], CFG, n_units=N_UNITS)
    assert job2["units_resumed"] == list(range(N_UNITS))
    assert job2["units_computed_this_run"] == []

    # a resume whose only pending unit is empty writes no rows at all
    shutil.rmtree(os.path.join(out, "unit=1"))
    job3 = run_features_resumable(spark, small["transcripts"], out,
                                  small["snapshots"], CFG, n_units=N_UNITS)
    assert job3["units_computed_this_run"] == [1]
    assert job3["rows"] == job["rows"]
    assert spark.read.parquet(os.path.join(out, "unit=1")).count() == 0


def test_kill_then_resume(spark, inputs, direct, tmp_path):
    tdir, sdir = inputs
    out = str(tmp_path / "out")
    with pytest.raises(SimulatedCrash):
        run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS,
                               fail_after_units=2)
    # crash left exactly 2 unit manifests + the fit manifest behind
    mdir = os.path.join(out, "_manifest")
    done = sorted(f for f in os.listdir(mdir) if f.startswith("unit_"))
    assert len(done) == 2
    assert os.path.exists(os.path.join(mdir, "model.npz"))

    job = run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)
    assert len(job["units_resumed"]) == 2        # crashed units were kept
    assert len(job["units_computed_this_run"]) == 2

    k1, v1 = _collect(read_feature_output(spark, out))
    k2, v2 = direct
    assert k1 == k2
    np.testing.assert_allclose(v1, v2, rtol=1e-8, atol=1e-10)

    with open(os.path.join(mdir, "job.json")) as f:
        man = json.load(f)
    assert man["rows"] == len(k1)
    assert set(man["wall_s_per_unit"]) == {str(u) for u in range(N_UNITS)}


def test_torn_unit_manifest_tmp_recomputes_unit(spark, inputs, direct,
                                                tmp_path):
    """A crash inside the manifest write leaves only ``unit_0.json.tmp``:
    it never counts as a unit manifest, so the resume recomputes unit 0.
    A malformed FINAL-name manifest cannot come from a crash and raises
    instead of reading as "not done"."""
    tdir, sdir = inputs
    out = str(tmp_path / "out")
    run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)
    mdir = os.path.join(out, "_manifest")
    os.remove(os.path.join(mdir, "unit_0.json"))
    with open(os.path.join(mdir, "unit_0.json.tmp"), "w") as f:
        f.write('{"stage": "transform", "unit": 0, "input_fing')
    job = run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)
    assert job["units_computed_this_run"] == [0]
    assert job["units_resumed"] == [1, 2, 3]
    assert not [f for f in os.listdir(mdir) if f.endswith(".tmp")]
    k1, _ = _collect(read_feature_output(spark, out))
    assert k1 == direct[0]

    with open(os.path.join(mdir, "unit_1.json"), "w") as f:
        f.write('{"stage": "transf')
    with pytest.raises(ValueError, match="unit_1.json"):
        read_feature_output(spark, out)
    with pytest.raises(ValueError, match="unit_1.json"):
        run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)


@pytest.mark.parametrize("op", ["write_atomic", "invalidate"])
def test_write_atomic_fsyncs_file_and_directory(tmp_path, monkeypatch, op):
    """write_atomic fsyncs the file, then its directory; the ledger's
    invalidate fsyncs the manifest directory after a removal, and does
    nothing when there is nothing to remove."""
    import stat

    from featureextraction_jl_spark import manifest

    synced = []
    real_fsync = os.fsync

    def spy(fd):
        synced.append(stat.S_ISDIR(os.fstat(fd).st_mode))
        real_fsync(fd)

    if op == "write_atomic":
        monkeypatch.setattr(os, "fsync", spy)
        path = str(tmp_path / "m.json")
        manifest.write_atomic(path, {"b": 1, "a": [2]})
        assert synced == [False, True]      # the file, then its directory
        assert os.listdir(tmp_path) == ["m.json"]
        assert manifest.read(path) == {"a": [2], "b": 1}
        assert manifest.read(str(tmp_path / "missing.json")) is None
    else:
        ledger = manifest.Ledger(str(tmp_path))
        path = ledger.path("unit_0.json")
        manifest.write_atomic(path, {"a": 1})
        monkeypatch.setattr(os, "fsync", spy)
        ledger.invalidate(path)
        assert synced == [True]             # the manifest directory
        assert os.listdir(ledger.dir) == []
        ledger.invalidate(path)             # a fresh out_dir: no fsync
        assert synced == [True]


def test_manifest_format_version(tmp_path):
    """Every manifest is stamped format_version 1; read() hands it back
    without the field, and an unknown version raises naming the path and
    both versions."""
    from featureextraction_jl_spark import manifest

    path = str(tmp_path / "m.json")
    manifest.write_atomic(path, {"a": 1})
    with open(path) as f:
        assert json.load(f) == {"a": 1, "format_version": 1}
    assert manifest.read(path) == {"a": 1}
    with open(path, "w") as f:
        json.dump({"a": 1, "format_version": 2}, f)
    with pytest.raises(ValueError, match=r"m\.json.*format_version 2.*1"):
        manifest.read(path)


def test_manifest_without_format_version_still_resumes(spark, inputs,
                                                       tmp_path):
    """Manifests written before format_version existed read as version 1:
    a finished run whose manifests lack the field resumes every unit."""
    tdir, sdir = inputs
    out = str(tmp_path / "out")
    run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)
    mdir = os.path.join(out, "_manifest")
    stripped = 0
    for name in os.listdir(mdir):
        if name.endswith(".json"):
            path = os.path.join(mdir, name)
            with open(path) as f:
                man = json.load(f)
            stripped += man.pop("format_version") == 1
            with open(path, "w") as f:
                json.dump(man, f)
    assert stripped >= N_UNITS + 1
    job = run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)
    assert job["units_computed_this_run"] == []
    assert job["units_resumed"] == list(range(N_UNITS))


def test_manifest_invalidation_keys():
    # config changes and input changes must invalidate manifests
    assert config_hash(CFG, 4) != config_hash(CFG, 8)
    assert config_hash(CFG, 4) != config_hash(FeatureJobConfig(k=5), 4)
    assert input_fingerprint("/root/testdata/sf0.001") \
        != input_fingerprint("/root/testdata/sf0.01")
    # pinned literals: the hash changes only deliberately, since every
    # existing _manifest/ dir then recomputes once (last changed when the
    # unread num_buckets field was removed)
    assert config_hash(FeatureJobConfig(), 8) == "a83224f55bf6ce6a"
    assert config_hash(CFG, 4) == "4999190471b2ea0a"


@pytest.mark.parametrize("bad", [
    {"mode": "whiten"}, {"rolling_turns": -1}, {"window_lag_models": -1},
    {"window_duration": "1 month"}])
def test_bad_feature_config_raises_before_the_fit_manifest(
        spark, inputs, tmp_path, bad):
    """A config the fit or the projection would reject raises before the
    moment pass writes model.npz and fit.json (mode='whiten' used to fit,
    write both, and only then raise in PCAModel.projection)."""
    tdir, sdir = inputs
    out = str(tmp_path / "out")
    with pytest.raises(ValueError):
        run_features_resumable(spark, tdir, out, sdir,
                               FeatureJobConfig(k=4, **bad),
                               n_units=N_UNITS)
    assert not os.path.exists(os.path.join(out, "_manifest", "fit.json"))


def test_shrinking_n_units_removes_stale_outputs(spark, inputs, direct, tmp_path):
    """Re-running with a smaller n_units must delete the old split's
    unit=k (k >= new n_units) dirs — reading every unit dir would
    otherwise union the old and new splits, duplicating rows while
    job.json reports clean totals."""
    import shutil as _sh

    tdir, sdir = inputs
    out = str(tmp_path / "out")
    run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)
    job = run_features_resumable(spark, tdir, out, sdir, CFG, n_units=2)
    dirs = sorted(e for e in os.listdir(out) if e.startswith("unit="))
    assert dirs == ["unit=0", "unit=1"]          # stale unit=2,3 removed
    k1, v1 = _collect(read_feature_output(spark, out))
    k2, v2 = direct
    assert k1 == k2                              # no duplicated rows
    np.testing.assert_allclose(v1, v2, rtol=1e-8, atol=1e-10)
    assert job["rows"] == len(k1)

    # And a valid manifest whose DATA dir was lost must recompute, not skip
    _sh.rmtree(os.path.join(out, "unit=1"))
    job2 = run_features_resumable(spark, tdir, out, sdir, CFG, n_units=2)
    assert job2["units_computed_this_run"] == [1]
    k3, _ = _collect(read_feature_output(spark, out))
    assert k3 == k2


def test_resumable_windowed_equals_direct_and_resumes(spark, inputs, tmp_path):
    """Windowed resumable mode (cfg.window_duration): the per-window model
    map persists as a wmodels/ manifest directory, the job output equals a
    direct windowed run_features, and a second invocation resumes every
    unit AND skips the fit (loads the saved WindowedPCA)."""
    tdir, sdir = inputs
    wcfg = FeatureJobConfig(k=None, mode="pca_whiten",
                            snap_dim=16, window_duration="7 days")
    out = str(tmp_path / "wout")
    job = run_features_resumable(spark, tdir, out, sdir, wcfg, n_units=N_UNITS)
    assert job["fit"]["windowed"] is True
    assert job["fit"]["windows_fitted"] >= 2
    idx = os.path.join(out, "_manifest", "wmodels", "index.json")
    assert os.path.exists(idx)
    with open(idx) as f:
        assert len(json.load(f)["models"]) == job["fit"]["windows_fitted"]

    got_keys, got_vecs = _collect(read_feature_output(spark, out))
    want, _ = run_features(spark.read.parquet(tdir),
                           spark.read.parquet(sdir), wcfg)
    want_keys, want_vecs = _collect(want)
    assert got_keys == want_keys
    # atol 5e-9, not the global test's 1e-10: k=None FULL-RANK whitening
    # amplifies near-singular directions by 1/sqrt(lambda+eps), so the
    # direct run's independently re-accumulated moments (different Chan
    # partial order) legitimately wiggle those ~1e-9-magnitude components
    # by a few 1e-10.
    np.testing.assert_allclose(np.stack(got_vecs), np.stack(want_vecs),
                               rtol=1e-6, atol=5e-9)

    job2 = run_features_resumable(spark, tdir, out, sdir, wcfg, n_units=N_UNITS)
    assert job2["units_resumed"] == list(range(N_UNITS))
    assert job2["units_computed_this_run"] == []
    assert job2["rows"] == job["rows"]


def test_one_chain_build_per_run_and_unit_filter_below_exchange(
        spark, inputs, tmp_path, monkeypatch):
    """The fit and the transform read one chain build, global or windowed
    (counted in both modules, so a build inside run_features counts too).
    A resume filters that chain to the pending units, and Catalyst pushes
    the filter into both scans, below the as-of Exchange, so a done unit's
    rows are never shuffled."""
    import featureextraction_jl_spark.plans.checkpoint as ck
    import featureextraction_jl_spark.plans.feature_job as fj

    tdir, sdir = inputs
    builds, feats = [], []

    def build(*args):
        builds.append(args)
        return real_build(*args)

    def project(*args):
        feats.append(real_project(*args))
        return feats[-1]

    real_build, real_project = ck.build_turn_features, ck.project_features
    monkeypatch.setattr(ck, "build_turn_features", build)
    monkeypatch.setattr(fj, "build_turn_features", build)
    monkeypatch.setattr(ck, "project_features", project)
    wcfg = FeatureJobConfig(k=4, snap_dim=16,
                            window_duration="7 days")
    for name, cfg in (("global", CFG), ("windowed", wcfg)):
        builds.clear()
        run_features_resumable(spark, tdir, str(tmp_path / name), sdir, cfg,
                               n_units=N_UNITS)
        assert len(builds) == 1, name

    out = str(tmp_path / "global")
    os.remove(os.path.join(out, "_manifest", "unit_1.json"))
    builds.clear()
    job = run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)
    assert len(builds) == 1
    assert job["units_computed_this_run"] == [1]
    plan = feats[-1]._jdf.queryExecution().executedPlan().toString()
    above, below = plan.split("Exchange hashpartitioning", 1)
    assert "pmod(hash(conv_id" not in above, plan
    unit_filters = [line for line in below.splitlines()
                    if "Filter (" in line and "pmod(hash(conv_id" in line]
    assert len(unit_filters) == 2 and below.count("FileScan") == 2, plan


def test_stale_model_artifact_triggers_refit(spark, inputs, direct, tmp_path):
    """A model artifact left by a DIFFERENT run (crash between model.save
    and fit.json: newer artifact beside an older-valid manifest) must not
    be loaded — the sidecar model.meta.json ties the artifact bytes to the
    (input, config) that produced them, so a mismatch refits instead of
    silently projecting every unit through the wrong model."""
    tdir, sdir = inputs
    out = str(tmp_path / "out_meta")
    run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)
    mdir = os.path.join(out, "_manifest")
    meta = json.load(open(os.path.join(mdir, "model.meta.json")))

    # simulate the foreign artifact: poison model.npz AND its sidecar with
    # a different config's hash, keep fit.json (still valid for CFG)
    other = FeatureJobConfig(k=2, snap_dim=16)
    t = spark.read.parquet(tdir)
    s = spark.read.parquet(sdir)
    _, wrong_model = run_features(t, s, other)
    wrong_model.save(os.path.join(mdir, "model.npz"))
    meta["config_hash"] = config_hash(other, N_UNITS)
    with open(os.path.join(mdir, "model.meta.json"), "w") as f:
        json.dump(meta, f)
    # invalidate one unit so the resume actually recomputes something
    os.remove(os.path.join(mdir, "unit_0.json"))

    run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)
    k2, v2 = _collect(read_feature_output(spark, out))
    k1, v1 = direct
    assert k2 == k1
    np.testing.assert_allclose(v2, v1, rtol=1e-9, atol=1e-10)
    # and the sidecar was rewritten for THIS run
    meta2 = json.load(open(os.path.join(mdir, "model.meta.json")))
    assert meta2["config_hash"] == config_hash(CFG, N_UNITS)


def test_read_feature_output_rejects_mixed_versions(spark, inputs, tmp_path):
    """A crashed re-run over CHANGED input leaves v2 units beside v1 units;
    the validated reader must refuse the mixed union (validate=False reads
    it for inspection)."""
    tdir, sdir = inputs
    out = str(tmp_path / "out_mixed")
    run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)

    # change the input bytes (append one conversation) -> new fingerprint
    extra = generate_transcripts(spark, 3, seed=99, max_turns=5,
                                 mega_turns=0)
    extra.write.mode("append").parquet(tdir)
    try:
        with pytest.raises(SimulatedCrash):
            run_features_resumable(spark, tdir, out, sdir, CFG,
                                   n_units=N_UNITS, fail_after_units=1)
        with pytest.raises(ValueError, match="mixed"):
            read_feature_output(spark, out)
        # escape hatch for partial inspection
        assert read_feature_output(spark, out, validate=False).count() > 0
        # completing the run heals the output
        run_features_resumable(spark, tdir, out, sdir, CFG, n_units=N_UNITS)
        read_feature_output(spark, out)
    finally:
        # restore the shared module-scoped input for later tests
        import shutil
        shutil.rmtree(tdir)
        generate_transcripts(spark, 150, seed=7, max_turns=60,
                             mega_turns=400).write.parquet(tdir)


def test_resumable_asserts_input_schema(spark, tmp_path):
    """Inputs go through the schema-asserting reader: a transcripts table
    whose ts is a LONG (or with a missing column) fails loudly at entry,
    not deep in the plan."""
    bad = str(tmp_path / "bad_transcripts")
    spark.range(10).selectExpr(
        "cast(id as string) conv_id", "cast(id as int) turn_idx",
        "'user' role", "'x' text", "cast(null as string) tool",
        "id as ts").write.parquet(bad)
    with pytest.raises(ValueError, match="transcripts column ts"):
        run_features_resumable(spark, bad, str(tmp_path / "o"), None, CFG,
                               n_units=2)


def test_iceberg_inputs_take_snapshot_fingerprint_branch(spark, tmp_path):
    """fmt='iceberg' must reach the snapshot-id fingerprint, not die in the
    file-listing fingerprint (a catalog table name is not a local dir).  No
    Iceberg runtime exists in this container, so the branch surfaces the
    catalog error — the point is it is NOT the FileNotFoundError the dead
    path raised."""
    with pytest.raises(Exception) as ei:
        run_features_resumable(spark, "nosuch.db.transcripts",
                               str(tmp_path / "o"), None, CFG, n_units=2,
                               fmt="iceberg")
    assert not isinstance(ei.value, FileNotFoundError)
