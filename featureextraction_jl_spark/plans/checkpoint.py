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

Protocol (manifest-last, crash-safe):

1. **Fingerprint** the input (file listing: relative path, size, mtime ->
   sha256).  On Iceberg the fingerprint is the snapshot id — same role:
   detect that a manifest refers to the same immutable input.
2. **Fit stage**: global moment accumulation + driver-side eigh, persisted as
   ``_manifest/model.npz`` + ``_manifest/fit.json`` (n, wall_s, explained
   variance, moment checksum).  Skipped on resume when fingerprint+config
   match.
3. **Transform stage**, every pending unit in ONE Spark write: the run's
   one chain build (the fit's, when the fit ran) -> filtered to the pending
   units (only when some are already done; Catalyst pushes the conv_id
   filter through the Windows and the as-of Union into both scans, below
   the Exchange) -> ``project_features`` -> add the ``unit`` column -> parquet
   ``partitionBy("unit")`` with dynamic partition overwrite, which replaces
   only the ``unit=<i>/`` dirs it writes (a static overwrite would delete
   ``_manifest/`` and the resumed units).  One ``Observation`` counts every
   unit's rows in the same pass.  A pending unit with no rows gets a
   ``unit=<i>/`` holding an empty file that carries the schema.  Then each
   unit's bytes/files are listed and ``_manifest/unit_<i>.json`` is written
   atomically (:func:`featureextraction_jl_spark.manifest.write_atomic`).
4. ``_manifest/job.json`` aggregates per-unit metrics (rows, bytes, seconds).

Crash window: a crash between the data write and a unit's manifest write
redoes that unit; the data write is idempotent (its unit dir is
overwritten).  Because the pending units share one write, a driver crash
DURING the write redoes every pending unit, not only the unfinished ones;
failed tasks are still retried by Spark inside the write.

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
from featureextraction_jl_spark.plans.windowed_pca import WindowedPCA
from featureextraction_jl_spark.plans.feature_job import (
    FeatureJobConfig,
    build_turn_features,
    fit_model,
    project_features,
)

MANIFEST_DIR = "_manifest"


class SimulatedCrash(RuntimeError):
    """Raised by the test-only fail_after_units hook to model a mid-run kill."""


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


def input_fingerprint(*paths: str) -> str:
    """sha256 over the (path, size, mtime_ns) listing of the input files.

    Iceberg equivalent: the table's current snapshot id.  Both answer "is
    this manifest about the same immutable input bytes?".
    """
    h = hashlib.sha256()
    for root in paths:
        if root is None:
            h.update(b"<none>")
            continue
        if os.path.isfile(root):
            # single-file parquet input (e.g. the driver's
            # documents.parquet): same (name, size, mtime) identity as the
            # directory listing below
            st = os.stat(root)
            h.update(f"{os.path.basename(root)}|{st.st_size}|"
                     f"{st.st_mtime_ns}\n".encode())
            continue
        if not os.path.isdir(root):
            # os.walk on a missing/remote path yields NOTHING, which would
            # silently fingerprint every such input identically — and on
            # resume with different data the model/units would be wrongly
            # reused.  Remote inputs (s3://, hdfs://, Iceberg tables) need a
            # snapshot-id based fingerprint instead of a file listing.
            raise FileNotFoundError(
                f"input_fingerprint: {root!r} is not a local directory; "
                "for remote/Iceberg inputs pass a snapshot-id fingerprint "
                "(see module docstring) instead of a path listing")
        for dirpath, dirnames, filenames in sorted(os.walk(root)):
            dirnames.sort()
            for name in sorted(filenames):
                if name.startswith(("_", ".")):
                    continue
                full = os.path.join(dirpath, name)
                st = os.stat(full)
                rel = os.path.relpath(full, root)
                h.update(f"{rel}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


#: how a conversation is assigned its unit; part of config_hash, so output
#: split any other way is recomputed, never mixed with this split
UNIT_SPLIT = "pmod(hash(conv_id), n_units)"


def config_hash(cfg: FeatureJobConfig, n_units: int) -> str:
    payload = json.dumps({**asdict(cfg), "n_units": n_units,
                          "unit_split": UNIT_SPLIT}, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


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
    job recomputes from scratch.  ``fail_after_units`` (tests only) raises
    :class:`SimulatedCrash` after that many unit manifests of this run have
    been written, i.e. after the data write.
    """
    cfg = cfg or FeatureJobConfig()
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)

    # Iceberg inputs are catalog names, not local dirs: fingerprint them by
    # snapshot id (a file listing would raise FileNotFoundError before the
    # Iceberg reader branch could ever run).
    fp = (iceberg_fingerprint(spark, transcripts_path, snapshots_path)
          if fmt == "iceberg"
          else input_fingerprint(transcripts_path, snapshots_path))
    chash = config_hash(cfg, n_units)

    def valid(man: dict[str, Any] | None) -> bool:
        return bool(man) and man.get("input_fingerprint") == fp \
            and man.get("config_hash") == chash

    # Through the schema-asserting reader, not a bare spark.read.parquet:
    # a transcripts dir with ts stored as long or a missing column must
    # fail HERE with the contract error, not deep in the plan; ``fmt``
    # ("iceberg") selects the catalog branch on a real cluster.
    from featureextraction_jl_spark.sources.tables import (
        read_table,
        read_transcripts,
    )

    transcripts = read_transcripts(spark, transcripts_path, fmt)
    snapshots = (read_table(spark, snapshots_path, fmt)
                 if snapshots_path else None)

    # Stale-unit sweep: a re-run with a smaller n_units would otherwise
    # leave unit=k (k >= n_units) data dirs from the old split on disk, and
    # read_feature_output(validate=False) would union them — duplicating
    # rows while job.json (which sums only 0..n_units-1) reports clean totals.
    for entry in os.listdir(out_dir):
        if entry.startswith("unit="):
            try:
                k = int(entry.split("=", 1)[1])
            except ValueError:
                continue
            if k >= n_units:
                shutil.rmtree(os.path.join(out_dir, entry))
                stale_man = os.path.join(mdir, f"unit_{k}.json")
                if os.path.exists(stale_man):
                    os.remove(stale_man)

    def unit_dir(u: int) -> str:
        return os.path.join(out_dir, f"unit={u}")

    def unit_manifest(u: int) -> str:
        return os.path.join(mdir, f"unit_{u}.json")

    # Skip only when the manifest is valid AND its data still exists: a
    # lost/deleted unit dir with a surviving manifest would otherwise be
    # silently omitted from the output while job.json reports its rows as
    # present.
    units_skipped = [u for u in range(n_units)
                     if valid(manifest.read(unit_manifest(u)))
                     and os.path.isdir(unit_dir(u))]
    pending = [u for u in range(n_units) if u not in units_skipped]

    # ---- fit stage -------------------------------------------------------
    # Global mode persists ONE model.npz; windowed mode (cfg.window_duration)
    # persists a wmodels/ directory (one .npz per window + index.json — the
    # WindowedPCA manifest).  config_hash covers window_duration, so
    # switching modes invalidates every manifest.
    windowed = cfg.window_duration is not None
    model_path = os.path.join(mdir, "wmodels" if windowed else "model.npz")
    model_ready = os.path.exists(
        os.path.join(model_path, "index.json") if windowed else model_path)
    fit_man_path = os.path.join(mdir, "fit.json")
    fit_man = manifest.read(fit_man_path)
    # The artifact carries its own provenance sidecar (written atomically
    # AFTER the artifact, BEFORE fit.json): fit.json alone cannot vouch for
    # the artifact bytes — a crash between a NEWER run's model.save and its
    # fit.json write leaves a mismatched artifact next to an older-valid
    # manifest, and resuming would project every remaining unit through the
    # wrong model (windowed keys would all miss -> silent all-NULL units).
    meta_path = os.path.join(mdir, "model.meta.json")
    fitted = valid(fit_man) and model_ready \
        and valid(manifest.read(meta_path))
    # The chain is built once, over the whole input, and read by both the
    # fit and the transform; a run with nothing to do never builds it.
    t0 = time.monotonic()
    prepared = (build_turn_features(transcripts, snapshots, cfg)
                if pending or not fitted else None)
    if fitted:
        model = (WindowedPCA.load(model_path) if windowed
                 else PCAModel.load(model_path))
    else:
        model, stats = fit_model(prepared, cfg)
        model.save(model_path)
        manifest.write_atomic(meta_path, {
            "input_fingerprint": fp, "config_hash": chash,
            "artifact": os.path.basename(model_path)})
        fit_man = {"stage": "fit", "input_fingerprint": fp,
                   "config_hash": chash, **stats,
                   "wall_s": round(time.monotonic() - t0, 3)}
        manifest.write_atomic(fit_man_path, fit_man)

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
        out.write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("unit").parquet(out_dir)
        # the wall of the one write shared by every pending unit
        wall_s = round(time.monotonic() - t0, 3)
        for i, u in enumerate(pending):
            if fail_after_units is not None and i >= fail_after_units:
                raise SimulatedCrash(f"injected crash before manifest of unit {u}")
            rows = int(obs.get[str(u)])
            if not rows:
                # partitionBy makes no dir for a unit without rows: write
                # one empty file carrying the schema, so the unit (and an
                # all-empty output) stays readable
                spark.createDataFrame([], feats.schema).write \
                    .mode("overwrite").parquet(unit_dir(u))
            n_files, n_bytes = _dir_stats(unit_dir(u))
            manifest.write_atomic(unit_manifest(u), {
                "stage": "transform",
                "unit": u,
                "n_units": n_units,
                "input_fingerprint": fp,
                "config_hash": chash,
                "model": os.path.basename(model_path),
                "rows": rows,
                "output_files": n_files,
                "output_bytes": n_bytes,
                "wall_s": wall_s,
            })

    # ---- job summary -----------------------------------------------------
    unit_mans = []
    for u in range(n_units):
        man = manifest.read(unit_manifest(u))
        if man is None:
            # a manifest written above vanished before aggregation
            raise RuntimeError(
                f"unit manifest missing or unreadable at summary time: "
                f"{unit_manifest(u)}")
        unit_mans.append(man)
    job = {
        "input_fingerprint": fp,
        "config_hash": chash,
        "n_units": n_units,
        "units_computed_this_run": pending,
        "units_resumed": units_skipped,
        "rows": sum(m["rows"] for m in unit_mans),
        "output_bytes": sum(m["output_bytes"] for m in unit_mans),
        "wall_s_per_unit": {str(m["unit"]): m["wall_s"] for m in unit_mans},
        "fit": fit_man,
    }
    manifest.write_atomic(os.path.join(mdir, "job.json"), job)
    return job


def read_feature_output(spark: SparkSession, out_dir: str,
                        validate: bool = True) -> DataFrame:
    """Read the union of all completed units' outputs.

    ``validate`` (default) checks the unit manifests BEFORE the union:
    every unit dir must carry a readable manifest, all manifests must agree
    on ONE (input_fingerprint, config_hash) version, and the unit set must
    be complete for the recorded n_units — otherwise a run that
    crashed mid-recompute over changed input leaves unit=0 holding v2 rows
    beside v1 units, and a bare read would return the mixed union with no
    error.  Pass validate=False to inspect partial output.  Either way the
    unit dirs listed here are read by name (with ``basePath``, so ``unit``
    stays a partition column), not through a glob.
    """
    units = []
    for entry in os.listdir(out_dir):
        if entry.startswith("unit="):
            try:
                units.append(int(entry.split("=", 1)[1]))
            except ValueError:
                raise ValueError(
                    f"unparseable unit dir {entry!r} under {out_dir}")
    if not units:
        raise FileNotFoundError(f"no unit=<i> output under {out_dir}")
    units.sort()
    if validate:
        mdir = os.path.join(out_dir, MANIFEST_DIR)
        versions, n_units_seen = set(), set()
        for k in units:
            man = manifest.read(os.path.join(mdir, f"unit_{k}.json"))
            if not man:
                raise ValueError(
                    f"unit={k} has data but no readable manifest — "
                    f"crashed or foreign output; validate=False to read "
                    f"anyway")
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
