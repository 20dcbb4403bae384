"""Checkpoint-resumable feature runs with per-unit lineage manifests (E3/E4).

The north rule requires runs to be "checkpoint-resumable with per-partition
lineage manifests and metrics" (BASELINE.json:14).  Spark has no built-in
batch-job resume, so the unit of resumption here is a **conv_id hash bucket
group**: unit *i* owns every conversation with ``pmod(hash(conv_id),
n_units) == i``.  ``hash`` is Spark's Murmur3 (seed 42), the hash the
chain's conv_id exchange partitions by, so when
``spark.sql.shuffle.partitions`` is a multiple of ``n_units`` every shuffle
partition holds exactly one unit, and a write task makes one file per unit
it holds (one in all without AQE partition coalescing).  Every engine
operator (sessionize, lag/lead, backfill, as-of join, projection)
partitions by conv_id, so the per-unit decomposition is exact — computing
a subset of units equals the same units of one global run (tested in
tests/test_checkpoint.py).

Protocol: the resume ledger of :mod:`featureextraction_jl_spark.manifest`
(check, invalidate, data, commit, summary) over ``_manifest/``:

1. **Fingerprint** the input (file listing: relative path, size, mtime ->
   sha256; on Iceberg the snapshot id).  **Check**: a unit is skipped when
   ``unit_<i>.json`` matches fingerprint and config hash and ``unit=<i>/``
   exists; the fit when ``fit.json`` and the ``model.meta.json`` sidecar
   match and the artifact exists.
2. **Fit stage**: remove both, fit (global moments + driver-side eigh),
   save ``model.npz`` (or ``wmodels/``), commit the sidecar and ``fit.json``.
3. **Transform stage**, every pending unit in ONE Spark write: the run's
   one chain build, filtered to the pending units when some are done
   (Catalyst pushes the conv_id filter into both scans, below the
   Exchange) -> ``project_features`` -> ``unit`` column -> parquet
   ``partitionBy("unit")`` with dynamic partition overwrite (only the
   ``unit=<i>/`` dirs it writes are replaced).  The pending units'
   manifests are removed before the write; one ``Observation`` counts each
   unit's rows in the same pass; a unit without rows gets an empty file
   carrying the schema; then each unit's manifest is committed.
4. **Summary**: ``job.json`` aggregates per-unit rows, bytes and seconds.

A crash after the write and before a unit's commit leaves that unit's data
without a manifest (the previous run's was removed before the write), so
:func:`read_feature_output` refuses the output and a re-run redoes the
unit.  A driver crash DURING the shared write redoes every pending unit.

The unit split is a hash-slice filter over a full scan, not storage
pruning: Spark's Murmur3 does not match Iceberg's ``bucket(n, conv_id)``
transform, so a resumed run scans the whole input once and keeps the
pending units' rows.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from featureextraction_jl_spark import manifest
from featureextraction_jl_spark.functions.pca import PCAModel
from featureextraction_jl_spark.manifest import (
    MANIFEST_DIR,
    Ledger,
    SimulatedCrash,
    input_fingerprint,
)
from featureextraction_jl_spark.plans.windowed_pca import WindowedPCA
from featureextraction_jl_spark.plans.feature_job import (
    FeatureJobConfig,
    build_turn_features,
    fit_model,
    project_features,
)
from featureextraction_jl_spark.sources.tables import read_table, read_transcripts

__all__ = ["MANIFEST_DIR", "SimulatedCrash", "config_hash", "input_fingerprint",
           "read_feature_output", "run_features_resumable"]


# ---------------------------------------------------------------------------
# Fingerprints and config hash
# ---------------------------------------------------------------------------

def iceberg_fingerprint(spark: SparkSession, *tables: str) -> str:
    """Snapshot-id fingerprint for Iceberg inputs (the remote-input twin of
    :func:`input_fingerprint` — an Iceberg table name is not a local dir, so
    a file listing is impossible AND unnecessary: the current snapshot id
    already answers "same immutable input bytes?").  Container-gated like
    every Iceberg branch (needs the runtime JAR + catalog)."""
    h = hashlib.sha256()
    for t in tables:
        if t is None:
            h.update(b"<none>")
            continue
        rows = spark.sql(
            f"SELECT snapshot_id FROM {t}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1").collect()
        sid = str(rows[0][0]) if rows else "<empty>"
        h.update(f"{t}:{sid}".encode())
    return h.hexdigest()[:16]


#: how a conversation is assigned its unit; part of config_hash, so output
#: split any other way is recomputed, never mixed with this split
UNIT_SPLIT = "pmod(hash(conv_id), n_units)"


def config_hash(cfg: FeatureJobConfig, n_units: int) -> str:
    payload = json.dumps({**asdict(cfg), "n_units": n_units,
                          "unit_split": UNIT_SPLIT}, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _units_on_disk(out_dir: str) -> list[int]:
    """The sorted ``i`` of every ``unit=<i>/`` dir under ``out_dir``."""
    names = [e for e in os.listdir(out_dir) if e.startswith("unit=")]
    try:
        return sorted(int(e.split("=", 1)[1]) for e in names)
    except ValueError:
        raise ValueError(f"unparseable unit dir among {names} under {out_dir}")


def _dir_stats(path: str) -> tuple[int, int]:
    """(num data files, total bytes) under a written parquet dir."""
    files = bytes_ = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            files += 1
            bytes_ += os.stat(os.path.join(dirpath, name)).st_size
    return files, bytes_


# ---------------------------------------------------------------------------
# The resumable runner
# ---------------------------------------------------------------------------

def run_features_resumable(
    spark: SparkSession,
    transcripts_path: str,
    out_dir: str,
    snapshots_path: str | None = None,
    cfg: FeatureJobConfig | None = None,
    n_units: int = 8,
    fail_after_units: int | None = None,
    fmt: str | None = None,
) -> dict[str, Any]:
    """Run (or resume) the flagship feature job; returns the job manifest.

    Re-invoking with the same inputs/config/out_dir skips every unit whose
    manifest is valid — a killed run resumes where it stopped.  Changed input
    bytes or config invalidate all manifests (fingerprint mismatch) and the
    job recomputes from scratch.  ``fail_after_units`` (tests only) is the
    ledger's crash hook: :class:`SimulatedCrash` is raised in place of the
    unit manifest after this run's first ``fail_after_units``, i.e. after
    the data write.
    """
    cfg = cfg or FeatureJobConfig()
    ledger = Ledger(out_dir, fail_after_units)

    # Iceberg inputs are catalog names, not local dirs: fingerprint them by
    # snapshot id, not by a file listing
    fp = (iceberg_fingerprint(spark, transcripts_path, snapshots_path)
          if fmt == "iceberg"
          else input_fingerprint(transcripts_path, snapshots_path))
    chash = config_hash(cfg, n_units)
    expect = {"input_fingerprint": fp, "config_hash": chash}

    # Through the schema-asserting reader, not a bare spark.read.parquet:
    # a transcripts dir with ts stored as long or a missing column must
    # fail HERE with the contract error, not deep in the plan; ``fmt``
    # ("iceberg") selects the catalog branch on a real cluster.
    transcripts = read_transcripts(spark, transcripts_path, fmt)
    snapshots = (read_table(spark, snapshots_path, fmt)
                 if snapshots_path else None)

    def unit_dir(u: int) -> str:
        return os.path.join(out_dir, f"unit={u}")

    def unit_manifest(u: int) -> str:
        return ledger.path(f"unit_{u}.json")

    # Stale-unit sweep: a re-run with a smaller n_units would otherwise
    # leave unit=k (k >= n_units) data dirs from the old split on disk, and
    # read_feature_output(validate=False) would union them — duplicating
    # rows while job.json (which sums only 0..n_units-1) reports clean totals.
    for k in _units_on_disk(out_dir):
        if k >= n_units:
            ledger.invalidate(unit_manifest(k))
            shutil.rmtree(unit_dir(k))

    units_skipped = [u for u in range(n_units)
                     if ledger.valid(unit_manifest(u), expect, unit_dir(u))]
    pending = [u for u in range(n_units) if u not in units_skipped]

    # ---- fit stage -------------------------------------------------------
    # Global mode persists ONE model.npz; windowed mode (cfg.window_duration)
    # persists a wmodels/ directory (one .npz per window + index.json — the
    # WindowedPCA manifest).  config_hash covers window_duration, so
    # switching modes invalidates every manifest.
    windowed = cfg.window_duration is not None
    model_path = ledger.path("wmodels" if windowed else "model.npz")
    model_data = (os.path.join(model_path, "index.json") if windowed
                  else model_path)
    fit_man_path = ledger.path("fit.json")
    # The artifact carries its own provenance sidecar, committed AFTER the
    # artifact and BEFORE fit.json: fit.json alone cannot vouch for the
    # artifact bytes, and a foreign artifact beside a valid fit.json would
    # project every remaining unit through the wrong model (windowed keys
    # would all miss -> silent all-NULL units).
    meta_path = ledger.path("model.meta.json")
    fit_man = ledger.valid(fit_man_path, expect, model_data)
    fitted = bool(fit_man and ledger.valid(meta_path, expect, model_data))
    # The chain is built once, over the whole input, and read by both the
    # fit and the transform; a run with nothing to do never builds it.
    t0 = time.monotonic()
    prepared = (build_turn_features(transcripts, snapshots, cfg)
                if pending or not fitted else None)
    if fitted:
        model = (WindowedPCA.load(model_path) if windowed
                 else PCAModel.load(model_path))
    else:
        ledger.invalidate(fit_man_path, meta_path)
        model, stats = fit_model(prepared, cfg)
        model.save(model_path)
        ledger.commit(meta_path, {
            **expect, "artifact": os.path.basename(model_path)},
            counted=False)
        fit_man = {"stage": "fit", **expect, **stats,
                   "wall_s": round(time.monotonic() - t0, 3)}
        ledger.commit(fit_man_path, fit_man, counted=False)

    # ---- transform stage: every pending unit in one write ---------------
    if pending:
        t0 = time.monotonic()
        unit = F.pmod(F.hash("conv_id"), F.lit(n_units))
        if units_skipped:
            # conv_id is the key of every Window and of the as-of Union, so
            # Catalyst pushes this filter into both scans, below the
            # Exchange: a done unit's rows are never shuffled
            prepared = prepared.filter(unit.isin(pending))
        feats = project_features(prepared, model, cfg)
        obs = Observation("units")
        out = feats.withColumn("unit", unit).observe(
            obs, *[F.count_if(F.col("unit") == u).alias(str(u))
                   for u in pending])
        ledger.invalidate(*map(unit_manifest, pending))
        out.write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("unit").parquet(out_dir)
        # the wall of the one write shared by every pending unit
        wall_s = round(time.monotonic() - t0, 3)
        for u in pending:
            rows = int(obs.get[str(u)])
            if not rows:
                # partitionBy makes no dir for a unit without rows: write
                # one empty file carrying the schema, so the unit (and an
                # all-empty output) stays readable
                spark.createDataFrame([], feats.schema).write \
                    .mode("overwrite").parquet(unit_dir(u))
            n_files, n_bytes = _dir_stats(unit_dir(u))
            ledger.commit(unit_manifest(u), {
                "stage": "transform", "unit": u, "n_units": n_units, **expect,
                "model": os.path.basename(model_path), "rows": rows,
                "output_files": n_files, "output_bytes": n_bytes,
                "wall_s": wall_s})

    # ---- job summary -----------------------------------------------------
    return ledger.summarize(
        [unit_manifest(u) for u in range(n_units)],
        lambda mans: {
            **expect,
            "n_units": n_units,
            "units_computed_this_run": pending,
            "units_resumed": units_skipped,
            "rows": sum(m["rows"] for m in mans),
            "output_bytes": sum(m["output_bytes"] for m in mans),
            "wall_s_per_unit": {str(m["unit"]): m["wall_s"] for m in mans},
            "fit": fit_man,
        })


def read_feature_output(spark: SparkSession, out_dir: str,
                        validate: bool = True) -> DataFrame:
    """Read the union of all completed units' outputs.

    ``validate`` (default) checks the unit manifests BEFORE the union:
    every unit dir must carry a readable manifest, all manifests must agree
    on ONE (input_fingerprint, config_hash) version, and the unit set must
    be complete for the recorded n_units.  Pass validate=False to inspect
    partial output.  Either way the unit dirs are read by name (with
    ``basePath``, so ``unit`` stays a partition column), not by a glob.
    """
    units = _units_on_disk(out_dir)
    if not units:
        raise FileNotFoundError(f"no unit=<i> output under {out_dir}")
    if validate:
        mdir = os.path.join(out_dir, MANIFEST_DIR)
        versions, n_units_seen = set(), set()
        for k in units:
            man = manifest.read(os.path.join(mdir, f"unit_{k}.json"))
            if not man:
                raise ValueError(
                    f"unit={k} has data but no readable manifest — a "
                    f"crashed or foreign write, whose rows may be mixed "
                    f"with another input/config version; re-run "
                    f"run_features_resumable to completion, or "
                    f"validate=False to read anyway")
            versions.add((man.get("input_fingerprint"),
                          man.get("config_hash")))
            n_units_seen.add(man.get("n_units"))
        if len(versions) > 1:
            raise ValueError(
                f"mixed input/config versions across units: {versions} — "
                f"a crashed re-run over changed input; re-run "
                f"run_features_resumable to completion first")
        n_units = n_units_seen.pop() if len(n_units_seen) == 1 else None
        if n_units is None or set(range(n_units)) - set(units):
            raise ValueError(
                f"incomplete output: have units {units} of "
                f"n_units={n_units}")
    return spark.read.option("basePath", out_dir).parquet(
        *[os.path.join(out_dir, f"unit={k}") for k in units])
