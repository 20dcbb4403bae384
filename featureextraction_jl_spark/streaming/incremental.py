"""Streaming incremental dedup — the Structured Streaming twin of
operators/incremental.py (SURVEY.md §2 F13).

A crawl pipeline lands documents continuously; here each micro-batch is
dedup'd against the persistent index (which already holds every COMMITTED
earlier micro-batch), survivors land under ``out_dir/batch=<id>``, and the
batch is committed to the index — the stream maintains exactly the corpus
the batch CLI (jobs/dedup_increment.py) would build running batch-by-batch
in micro-batch order.

``foreachBatch`` is the right tool (not a stateful operator): dedup needs
joins against an out-of-stream index plus an iterative connected-components
job per batch — driver-coordinated batch plans, not per-key state.

Effectively-once across restarts, by case (Spark replays an epoch id with
the same data after a crash):

 * crash mid-survivor-write: no manifest yet -> replay recomputes against
   the UNCHANGED index (dedup_batch is deterministic given index state)
   and mode=overwrite clobbers the partial ``batch=<id>`` dir;
 * crash between survivor write and index commit: same as above — the
   rewrite is byte-identical, then the commit lands;
 * crash between index commit and the sink checkpoint: the manifest
   exists, so the replay returns immediately WITHOUT re-running
   dedup_batch — re-running would see the batch's own docs in the index
   and overwrite the survivors with an empty frame (the one data-loss
   trap in this composition; the manifest check is the guard, pinned by
   tests/test_incremental.py).  Before skipping, the re-presented batch
   is verified against the manifest's raw-batch fingerprint: a RESET
   sink checkpoint re-batches old + NEW files under the same (newest)
   epoch id, and skipping that would silently drop the new documents —
   fingerprint mismatch raises instead.

Readers consume only committed batches (read_stream_corpus), so a crashed
run is never visible downstream.
"""
from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from featureextraction_jl_spark.operators.incremental import (
    IncrementalDedupConfig,
    committed_raw_fingerprint,
    dedup_and_commit,
    effective_committed_batches,
    raw_batch_fingerprint,
)


def dedup_foreach_batch(index_dir: str, out_dir: str,
                        cfg: IncrementalDedupConfig = IncrementalDedupConfig(),
                        batch_prefix: str = "mb",
                        ) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body: dedup -> write survivors -> commit.

    Batch ids are ``<prefix><epoch zero-padded to 12>`` so
    ``committed_batches``'s lexicographic order equals epoch order.
    Exposed separately from :func:`start_dedup_stream` so tests (and
    non-streaming drivers replaying a queue) can call it directly.
    """
    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        bid = f"{batch_prefix}{int(epoch_id):012d}"
        eff = effective_committed_batches(index_dir)
        newest = max((int(b[len(batch_prefix):]) for b in eff
                      if b.startswith(batch_prefix)
                      and b[len(batch_prefix):].isdigit()), default=-1)
        if bid in eff:
            if int(epoch_id) == newest:
                # replay of the LAST committed epoch (crash after commit,
                # before the sink checkpoint) — MUST NOT re-run
                # dedup_batch: the index now contains this batch's own
                # docs.  The CLOSURE check keeps this working after
                # compact_index retires the epoch's own manifest.
                #
                # BUT a deleted/reset sink checkpoint also re-presents the
                # newest epoch id — with old + NEW files batched under it.
                # A true Spark replay carries identical data; verify that
                # against the manifest's raw-batch fingerprint and raise
                # on mismatch instead of silently dropping the new docs.
                # The fingerprint survives compaction (it rides the
                # compaction manifest's source_raw_fingerprints closure,
                # like the config hashes — round-5 review: reading only
                # the direct manifest silently skipped a post-compaction
                # reset carrying NEW files); only a pre-fingerprint-era
                # commit is unverifiable and keeps the plain skip.
                fp = committed_raw_fingerprint(index_dir, bid)
                if fp is not None:
                    raw = raw_batch_fingerprint(batch_df, cfg.id_col)
                    if (raw["raw_rows"] != fp["raw_rows"]
                            or raw["raw_id_hash"] != fp.get("raw_id_hash")):
                        raise RuntimeError(
                            f"dedup stream epoch {int(epoch_id)} is already "
                            f"committed as {bid!r} but the re-presented "
                            f"batch does not match the committed one "
                            f"(rows {raw['raw_rows']} vs "
                            f"{fp['raw_rows']}): the sink checkpoint was "
                            f"reset/deleted and this 'replay' carries NEW "
                            f"documents — skipping would drop them.  Use a "
                            f"fresh batch_prefix (or index) to re-ingest")
                return
            # an OLDER committed epoch re-presenting means the sink
            # checkpoint was reset/deleted or a second stream shares this
            # index+prefix: its data is NOT a replay of what was
            # committed under this id — silently skipping would drop the
            # new documents with no trace
            raise RuntimeError(
                f"dedup stream epoch collision: epoch {int(epoch_id)} is "
                f"already committed as {bid!r} but the newest committed "
                f"epoch is {newest} — the stream checkpoint was reset, or "
                f"two streams share index {index_dir!r} with prefix "
                f"{batch_prefix!r}.  Use a fresh batch_prefix (or a fresh "
                f"index) for a re-ingest; do not reuse epoch ids")
        if int(epoch_id) <= newest:
            raise RuntimeError(
                f"dedup stream epoch regression: epoch {int(epoch_id)} is "
                f"not committed yet the index has committed up to epoch "
                f"{newest} under prefix {batch_prefix!r} — checkpoint and "
                f"index disagree; refusing to interleave")
        dest = os.path.join(out_dir, f"batch={bid}")
        dedup_and_commit(
            batch_df.sparkSession, batch_df, index_dir, bid, cfg,
            survivors_sink=lambda s: s.write.mode("overwrite").parquet(dest))
    return fn


def start_dedup_stream(spark: SparkSession, docs_path: str, schema: str,
                       index_dir: str, out_dir: str, checkpoint_dir: str,
                       cfg: IncrementalDedupConfig = IncrementalDedupConfig(),
                       max_files_per_trigger: int | None = None,
                       batch_prefix: str = "mb") -> StreamingQuery:
    """File-source stream of document parquet -> incremental dedup sink.

    ``trigger(availableNow=True)`` drains everything currently landed and
    stops — the deterministic sandbox twin; a cluster deployment swaps the
    source for Kafka/Iceberg-incremental and a processing-time trigger,
    same ``foreachBatch`` body.  ``max_files_per_trigger`` bounds
    micro-batch size (files are taken in (mtime, path) order).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_path)
    return (stream.writeStream
            .foreachBatch(dedup_foreach_batch(index_dir, out_dir, cfg,
                                              batch_prefix))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_stream_corpus(spark: SparkSession, out_dir: str, index_dir: str,
                       batch_prefix: str = "mb") -> DataFrame:
    """The deduped corpus the stream has built so far: the union of
    survivor dirs whose batch is COMMITTED in the index (directly, or via
    a compaction batch's sources closure — compact_index retires source
    manifests but the survivor parquet stays keyed by original epoch) —
    the same explicit-path, manifested-only read discipline as the index
    itself (a crashed epoch's partial survivors are invisible)."""
    batches = sorted(b for b in effective_committed_batches(index_dir)
                     if b.startswith(batch_prefix))
    paths = [os.path.join(out_dir, f"batch={b}") for b in batches]
    if not paths:
        raise ValueError(
            f"read_stream_corpus: no committed '{batch_prefix}*' batches "
            f"in {index_dir!r} yet")
    return spark.read.parquet(*paths)
