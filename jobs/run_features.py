"""spark-submit entry point for the flagship feature job (E7).

Cluster usage (design target, BASELINE.json:6):

    python scripts/package.py                       # -> dist/engine.zip
    spark-submit --master yarn --deploy-mode cluster \\
        --py-files dist/engine.zip \\
        jobs/run_features.py \\
        --transcripts <iceberg-or-parquet path> \\
        --snapshots <path> --out <path> \\
        --units 256 --k 8 --mode pca_whiten

Pure Python payload — numpy/pandas/pyarrow come from the cluster runtime, so
no wheels are shipped.  The job is resumable: re-submitting after a failure
skips every unit with a valid manifest (plans/checkpoint.py).  ``--units``
is the number of resumable units, slices ``pmod(hash(conv_id), units)`` of
the conversations; all pending units are computed in one Spark write, so
keep ``spark.sql.shuffle.partitions`` a multiple of it: every shuffle
partition then holds one unit, and a write task writes one file per unit
it holds.

Sandbox smoke run (tests/test_submit.py):

    spark-submit --master local[4] --py-files dist/engine.zip \\
        jobs/run_features.py --transcripts ... --out ...

Exit code 0 + a one-line JSON job summary on stdout for harnesses.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="point-in-time feature job")
    p.add_argument("--transcripts", required=True)
    p.add_argument("--snapshots", default=None)
    p.add_argument("--out", required=True)
    p.add_argument("--units", type=int, default=8,
                   help="resumable units (conv_id hash slices), written in "
                        "one Spark job as unit=<i>/ dirs")
    p.add_argument("--k", type=int, default=8)
    p.add_argument("--mode", default="pca_whiten",
                   choices=["pca", "pca_whiten", "zca"])
    p.add_argument("--gap-seconds", type=float, default=1800.0)
    p.add_argument("--snap-dim", type=int, default=16)
    p.add_argument("--format", default=None, dest="fmt",
                   choices=["parquet", "iceberg"],
                   help="input table format; default reads parquet paths, "
                        "'iceberg' reads catalog table names (the cluster "
                        "design target)")
    p.add_argument("--window", default=None, metavar="DURATION",
                   help="fit one PCA/whitening model per tumbling window of "
                        "this duration (e.g. '1 day') instead of one global "
                        "model; persisted as the wmodels/ manifest dir")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)

    # Import after spark-submit has put --py-files on sys.path.
    from pyspark.sql import SparkSession

    from featureextraction_jl_spark.plans import FeatureJobConfig
    from featureextraction_jl_spark.plans.checkpoint import run_features_resumable
    from featureextraction_jl_spark.session import engine_confs

    # a bad --window raises here, before a JVM starts
    cfg = FeatureJobConfig(gap_seconds=args.gap_seconds, k=args.k,
                           mode=args.mode, snap_dim=args.snap_dim,
                           window_duration=args.window)
    builder = SparkSession.builder.appName("fe-run-features")
    for key, val in engine_confs().items():
        if not key.startswith("spark.driver."):  # driver opts fixed at submit
            builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    job = run_features_resumable(spark, args.transcripts, args.out,
                                 snapshots_path=args.snapshots, cfg=cfg,
                                 n_units=args.units, fmt=args.fmt)
    print(json.dumps({"status": "ok", "rows": job["rows"],
                      "units_resumed": job["units_resumed"],
                      "output_bytes": job["output_bytes"]}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
