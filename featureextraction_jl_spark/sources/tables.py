"""Scans, bucketed layout, and sinks (SURVEY.md §2 B1–B3).

Design target is Iceberg (`spark.read.format("iceberg")`, hidden bucket
partitioning, snapshot isolation); the sandbox has no Iceberg runtime JAR, so
the Parquet path — identical columnar scan, vectorized reader, pushdown — is
the default and the Iceberg branch is format-gated.

Schemas are explicit and asserted, never inferred (SURVEY.md §1.1 row 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: BASELINE.json input_hint: the engine's fact-table shape.
TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), False),
])


def read_table(spark: SparkSession, path_or_table: str,
               fmt: str | None = None) -> DataFrame:
    """Read a table: Iceberg catalog name, or parquet path (sandbox).

    ``fmt`` is validated (round-5 review): an unknown value used to fall
    through to the parquet reader, surfacing a typo ('delta', 'csv') as a
    confusing not-a-parquet-file failure far from the bad argument — or a
    silently wrong-format read.
    """
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path_or_table)
    if fmt in (None, "parquet"):
        return spark.read.parquet(path_or_table)
    raise ValueError(
        f"read_table: unknown fmt {fmt!r} (expected 'iceberg', 'parquet' "
        f"or None)")


def read_transcripts(spark: SparkSession, path: str, fmt: str | None = None,
                     asof_cut=None) -> DataFrame:
    """Scan the transcripts table, asserting the contract schema.

    ``asof_cut`` (timestamp) pushes the global point-in-time cut ``ts <= cut``
    down into the scan — verify with explain() that it reaches PushedFilters
    (leakage + perf; SURVEY.md §4 pushdown row).
    """
    df = read_table(spark, path, fmt)
    got = {f.name: f.dataType for f in df.schema.fields}
    for f in TRANSCRIPT_SCHEMA.fields:
        if f.name not in got:
            raise ValueError(f"transcripts missing column {f.name}; got {sorted(got)}")
        if got[f.name].simpleString() != f.dataType.simpleString():
            raise ValueError(
                f"transcripts column {f.name}: expected {f.dataType.simpleString()}, "
                f"got {got[f.name].simpleString()}")
    if asof_cut is not None:
        df = df.filter(F.col("ts") <= F.lit(asof_cut))
    return df


def bucket_and_sort(df: DataFrame, key: str = "conv_id", ts_col: str = "ts",
                    num_buckets: int = 64) -> DataFrame:
    """Explicit conv_id-hash bucketing + in-partition (key, ts) sort (B2).

    One Exchange; every downstream Window on (key, ts) then reuses this
    partitioning and Catalyst elides further sorts/shuffles — 'explicit
    repartitioning on conv_id hash buckets' (BASELINE.json:6).
    """
    return (
        df.repartition(num_buckets, F.col(key))
        .sortWithinPartitions(key, ts_col)
    )


def write_features(df: DataFrame, path: str, fmt: str = "parquet",
                   mode: str = "overwrite", bucket_col: str | None = None,
                   num_buckets: int = 64) -> None:
    """Feature sink (B3). Iceberg branch uses hidden bucket partitioning.

    ``mode`` is honored on BOTH branches ("append" appends to the Iceberg
    table instead of replacing it — a silently-replacing append is data
    loss); ``bucket_col`` on the parquet branch clusters rows by hash
    bucket before the write (the closest path-sink analogue of hidden
    bucket partitioning — true parquet bucketing needs saveAsTable and a
    metastore, which a bare path has no place to record bucket metadata
    for).
    """
    if fmt == "iceberg":
        writer = df.writeTo(path)
        if bucket_col and mode == "overwrite":
            from pyspark.sql.functions import bucket
            writer = writer.partitionedBy(bucket(num_buckets, bucket_col))
        if mode == "append":
            # DataFrameWriterV2.partitionedBy applies only to
            # create/replace — append() ignores it silently, so a caller
            # passing bucket_col here would believe they bucketed rows
            # that actually land under the EXISTING table's spec (round-5
            # review).  Appends inherit the table's partition spec by
            # design; demanding a different one is a table-evolution
            # operation, not a write option.
            if bucket_col:
                raise ValueError(
                    "write_features(fmt='iceberg', mode='append') cannot "
                    "apply bucket_col: appends inherit the existing "
                    "table's partition spec (Iceberg hidden partitioning)."
                    "  Create the table bucketed (mode='overwrite' with "
                    "bucket_col) or evolve its spec first, then append "
                    "without bucket_col")
            writer.append()
        elif mode == "overwrite":
            writer.createOrReplace()
        else:
            raise ValueError(
                f"write_features(fmt='iceberg') supports mode "
                f"'overwrite'|'append', got {mode!r}")
        return
    if bucket_col:
        # cluster by the same hash-bucket expression Iceberg's bucket()
        # transform uses conceptually: co-locates each bucket's rows into
        # one file so bucket-key scans touch few files (without a
        # metastore there is nowhere to RECORD bucket metadata, so this is
        # layout clustering, not metadata bucketing — documented, not
        # silently dropped)
        df = df.repartition(num_buckets, F.col(bucket_col)) \
               .sortWithinPartitions(bucket_col)
    df.write.mode(mode).parquet(path)
