"""Incremental (batch-over-index) deduplication.

A training corpus is not built once: crawl batches keep arriving, and
re-running exact + near dedup over the FULL corpus per batch is O(corpus)
work for O(batch) new data.  This module maintains a persistent dedup
INDEX — content digests plus MinHash LSH band hashes of every accepted
document — and dedups each incoming batch against it:

    batch -> within-batch exact dedup (exact_dedup)
          -> digest anti-join vs index        (drop byte-equal to corpus)
          -> MinHash banding (minhash_bands, computed ONCE)
          -> within-batch LSH self-join pairs
          -> batch bands JOIN index bands     (cross-batch candidates)
          -> connected components over BOTH pair sets (anchored survivors)
          -> survivors published; commit_batch appends the EXACT-stage
             rows' digests+bands (survivors AND dropped near-dups)

Survivor rule: a component containing any indexed document keeps nothing
new (its cluster's survivor was already published), otherwise the min-id
new document survives.  Components run over the UNION of within-batch and
cross-batch pairs, so transitive merges across the batch/corpus boundary
are honored: new A ~ new B ~ indexed C drops BOTH A and B even though A
never shares a band with C.

The index records EVERY doc that passes the exact stage — including docs
later dropped as near-dups — not just survivors.  That is what makes the
equivalence exact: a future doc whose only near-dup link is to a DROPPED
doc (or whose bytes equal a dropped doc's) must still dedup, because the
dropped doc's cluster has a published survivor.  Indexing survivors only
would under-dedup through exactly those paths (review finding, round 5);
the cost is index rows for dropped near-dups (~the corpus' near-dup rate).

Equivalence contract (pinned by tests/test_incremental.py): with globally
unique, batch-monotone ids (later batches get larger ids — the natural
layout for crawl snapshots), the set of surviving NEW docs per batch
equals what a one-shot ``exact_dedup`` + ``minhash_lsh_pairs`` +
``near_dedup_survivors`` over the concatenation would keep, with two
honest caveats:
 * retroactive merges: a new doc bridging two ALREADY-PUBLISHED clusters
   is dropped (as one-shot would), but the two earlier survivors both
   stay published — one-shot would have kept only one.  Inherent to any
   incremental publish; no published row is ever retracted.
 * ``max_bucket`` applies per side (batch window + corpus band_stats),
   not to the combined width — a bucket straddling the threshold can be
   capped on one side only, diverging from the one-shot guard near the
   cap.  Far from the cap (the normal regime) the guards agree.
Ids MUST be globally unique across batches — a new doc reusing a
committed id would be silently treated as corpus.

Index layout (all paths under ``index_dir``)::

    index.json                     banding params, written at first commit
    digests/batch=<id>/*.parquet   (id, d1, d2)           one dir per batch
    bands/batch=<id>/*.parquet     (id, band, band_hash)
    band_stats/batch=<id>/*.parquet(band, band_hash, n)   additive counts
    manifests/<id>.json            commit marker, written LAST

Crash safety: data dirs are written (mode=overwrite, so a retry clobbers a
half-written dir) before the manifest, which ``manifest.write_atomic``
fsyncs and renames into place; readers list ``manifests/*.json`` (never a
leftover ``.json.tmp``) and read ONLY the committed ``batch=<id>`` dirs by
explicit path, so a killed commit is invisible and retryable.
Re-committing an already-manifested batch id is an idempotent no-op
(config hash must match, else it raises).

Scale notes (100 TB corpus, 1000 executors):
 * Per-batch compute is O(batch): shingling/signatures run over the new
   docs only, spread over at least ``defaultParallelism`` tasks (a no-op
   once the batch's exact stage already has that many partitions).  The
   digest anti-join and the band equi-join scan the index
   side once per batch; on plain parquet (this sandbox) that is one
   index-side exchange per join.  On a real cluster write the index
   through a layout bucketed by the join key ((d1, d2) and
   (band, band_hash) respectively — sources/tables.py's bucketed writer)
   so the storage-partitioned join leaves the index unshuffled and only
   the (small) batch side moves.
 * Connected components runs over the batch's candidate pairs only
   (within-batch plus cross-index), never over the index, so its graph is
   O(batch) too.  Up to ``dedup.DRIVER_CC_MAX_EDGES`` (2^20) edge rows
   it finishes on the driver: one edge checkpoint and one Arrow collect
   per batch, however many rounds the graph needs, and ~16 MB of driver
   arrays at the bound.  A batch whose candidate set is larger (a huge
   batch, or a near-dup storm) runs the same rounds as Spark actions, one
   checkpoint per round.
 * Degenerate buckets: the batch side inherits ``max_bucket`` (one window
   over the batch's band rows, reused for the self-join AND the cross
   join); the CORPUS side's bucket widths come from the tiny
   ``band_stats`` summaries — per-batch (band, band_hash, n) counts are
   additive, so the reader sums them and drops over-wide corpus buckets
   via a broadcast anti-join WITHOUT a width window over the full index.
 * The index stores 8-byte hashes, never text: ~40 bytes/doc digests +
   ~bands*20 bytes/doc band rows, i.e. ~10^12 docs fit in low-TB index
   storage for a 100 TB text corpus.
"""
from __future__ import annotations

import hashlib
import json
import os
import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import manifest
from .dedup import (
    cap_bucket_width,
    check_banding,
    connected_components,
    content_digests,
    eager_checkpoint,
    exact_dedup,
    lsh_pairs_from_bands,
    minhash_bands,
    near_dedup_survivors,
)

#: stored column schemas (index columns are NORMALIZED to `id` so callers
#: may use different id_col names per batch; the VALUES must still be
#: globally unique numeric ids)
_DIGESTS_SCHEMA = "id bigint, d1 bigint, d2 bigint"
_BANDS_SCHEMA = "id bigint, band int, band_hash bigint"
_STATS_SCHEMA = "band int, band_hash bigint, n bigint"

#: batch ids become directory names (`batch=<id>`) and manifest file names
_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")


@dataclass(frozen=True)
class IncrementalDedupConfig:
    """Knobs for incremental dedup.  The banding parameters (num_hashes,
    bands, shingle_k) define the index's hash space and are frozen into
    ``index.json`` at first commit — later calls against the same index
    must match or the cross-batch join would compare incompatible hashes
    (raises).  ``max_bucket`` is per-call (caps reads, never what a commit
    writes); ``id_col``/``text_col`` participate in the commit identity —
    they pick which columns' VALUES get written."""
    id_col: str = "doc_id"
    text_col: str = "text"
    num_hashes: int = 32
    bands: int = 8
    shingle_k: int = 5
    max_bucket: int | None = 1000

    def __post_init__(self) -> None:
        # before the first commit freezes a banding minhash_bands rejects
        # into index.json, which would refuse the corrected rerun
        check_banding(self.num_hashes, self.bands)

    def index_signature(self) -> dict[str, Any]:
        return {"version": 1, "num_hashes": self.num_hashes,
                "bands": self.bands, "shingle_k": self.shingle_k}


def _config_hash(cfg: IncrementalDedupConfig) -> str:
    """Hash of the COMMIT-RELEVANT config: banding parameters
    (``index_signature``) plus ``id_col``/``text_col``.  What a commit
    writes is a function of the banding params and of WHICH columns supply
    ids and text — on a multi-column frame, retrying a committed batch id
    with ``text_col='body'`` instead of ``'text'`` would have written
    byte-different digests/bands, so silently returning
    ``already_committed`` for it is exactly the 'skip a different commit'
    this check exists to refuse (round-5 review, second pass).
    ``max_bucket`` stays excluded: it caps reads, never writes, so a
    crashed-after-commit retry with a different cap is a true idempotent
    no-op (round-5 review, first pass)."""
    payload = {**cfg.index_signature(),
               "id_col": cfg.id_col, "text_col": cfg.text_col}
    blob = json.dumps(payload, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def _check_index_config(index_dir: str, cfg: IncrementalDedupConfig,
                        create: bool) -> None:
    """Validate (and at first commit, persist) the banding parameters."""
    path = os.path.join(index_dir, "index.json")
    sig = cfg.index_signature()
    cur = manifest.read(path)
    if cur is not None:
        if {k: cur.get(k) for k in sig} != sig:
            raise ValueError(
                f"incremental dedup index at {index_dir!r} was built with "
                f"banding params {cur!r}; this config has {sig!r} — band "
                f"hashes are incompatible across parameter changes "
                f"(rebuild the index or match the params)")
    elif create:
        os.makedirs(index_dir, exist_ok=True)
        manifest.write_atomic(path, sig)


def committed_batches(index_dir: str) -> list[str]:
    """Batch ids with a commit manifest, sorted.  Data dirs without a
    manifest (crashed commits) are invisible by construction."""
    mdir = os.path.join(index_dir, "manifests")
    if not os.path.isdir(mdir):
        return []
    return sorted(n[:-5] for n in os.listdir(mdir) if n.endswith(".json"))


def _read_committed(spark: SparkSession, index_dir: str, sub: str,
                    schema: str, committed: list[str]) -> DataFrame:
    """Union of the committed ``batch=<id>`` dirs, read by EXPLICIT path
    (never a partition-discovery scan of the parent): uncommitted dirs are
    excluded by construction and no partition-type inference can mangle a
    numeric-looking batch id.  The stored ``schema`` is passed to the
    reader, so building the frame runs no schema-inference job."""
    if not committed:
        return spark.createDataFrame([], schema)
    paths = [os.path.join(index_dir, sub, f"batch={b}") for b in committed]
    return spark.read.schema(schema).parquet(*paths)


#: eager lineage truncation — the ONE reliable-vs-local checkpoint policy,
#: shared with connected_components (round-5 review: was a drifting copy)
_chk = eager_checkpoint


def _prepare(spark: SparkSession, docs: DataFrame, index_dir: str,
             cfg: IncrementalDedupConfig,
             ) -> tuple[DataFrame, DataFrame, list[str]]:
    """Shared exact stage + banding, each materialized ONCE.

    Returns ``(indexable, banded, committed)``: ``indexable`` is the batch
    after within-batch exact dedup and the cross-index digest anti-join —
    exactly the rows :func:`commit_batch` records; ``banded`` is its
    UNCAPPED MinHash banding.  Both are eagerly checkpointed (see
    :func:`_chk`) because between them they feed every downstream consumer
    — the pairs self-join, the cross-index join, the CC id set, the
    survivor semi-join, and the index writes — and without the checkpoint
    the shingle -> signature pipeline re-executes up to 3x per batch
    (round-5 review finding).

    The banding explodes each doc ~text-length times into gram rows, so it
    runs on the exact stage hash-repartitioned by id to
    ``defaultParallelism`` whenever the checkpointed exact stage has fewer
    partitions than that (AQE coalesces a small batch to one partition,
    which would leave the banding on one core).  The signature's
    ``groupBy(id)`` reuses that partitioning, so the spread adds one small
    exchange of the exact-stage rows and no other."""
    id_c, txt = cfg.id_col, cfg.text_col
    docs = exact_dedup(docs, txt, id_c)
    committed = committed_batches(index_dir)
    if committed:
        # byte-exact vs corpus: anti-join on the paired digest
        idx_dig = _read_committed(spark, index_dir, "digests",
                                  _DIGESTS_SCHEMA, committed)
        d1, d2 = content_digests(txt)
        fresh = (docs.select(F.col(id_c), d1.alias("d1"), d2.alias("d2"))
                 .join(idx_dig.select("d1", "d2"), on=["d1", "d2"],
                       how="left_anti")
                 .select(id_c))
        docs = docs.join(fresh, on=id_c, how="left_semi")
    docs = _chk(docs)
    cores = spark.sparkContext.defaultParallelism
    spread = (docs.repartition(cores, id_c)
              if docs.rdd.getNumPartitions() < cores else docs)
    banded = _chk(minhash_bands(spread, txt, id_c, cfg.num_hashes, cfg.bands,
                                cfg.shingle_k))
    return docs, banded, committed


def _survivors(spark: SparkSession, docs: DataFrame, banded: DataFrame,
               committed: list[str], index_dir: str,
               cfg: IncrementalDedupConfig) -> DataFrame:
    """Near-dedup ``docs`` (exact-stage output) against itself and the
    committed index, from its prepared banding."""
    id_c = cfg.id_col
    capped = cap_bucket_width(banded, ["band", "band_hash"], cfg.max_bucket)
    pairs = lsh_pairs_from_bands(capped, id_c, max_bucket=None)

    if not committed:
        return near_dedup_survivors(docs, pairs, id_c)

    idx_bands = _read_committed(spark, index_dir, "bands", _BANDS_SCHEMA,
                                committed)
    if cfg.max_bucket is not None:
        # corpus-side degenerate-bucket guard from the additive band_stats
        # summaries — a broadcast anti-join, no window over the big index
        stats = _read_committed(spark, index_dir, "band_stats",
                                _STATS_SCHEMA, committed)
        heavy = (stats.groupBy("band", "band_hash")
                 .agg(F.sum("n").alias("n"))
                 .filter(F.col("n") > cfg.max_bucket)
                 .select("band", "band_hash"))
        idx_bands = idx_bands.join(F.broadcast(heavy),
                                   on=["band", "band_hash"], how="left_anti")
    # checkpointed: cross (and corpus_hits derived from it) is consumed by
    # the CC edge set, the CC label init, AND the survivor flags — without
    # this the index-side join re-executes per consumer
    cross = _chk(capped.alias("n")
                 .join(idx_bands.alias("c"), on=["band", "band_hash"],
                       how="inner")
                 .select(F.col(f"n.{id_c}").alias("id_a"),
                         F.col("c.id").alias("id_b"))
                 .distinct())

    # anchored components: indexed nodes enter only via cross pairs
    corpus_hits = cross.select(F.col("id_b").alias(id_c)).distinct()
    all_pairs = pairs.unionByName(cross)
    ids = docs.select(id_c).unionByName(corpus_hits)
    cc = connected_components(all_pairs, ids, id_c)
    keep = anchored_survivor_ids(cc, corpus_hits, id_c)
    return docs.join(keep, on=id_c, how="left_semi")


def dedup_batch(spark: SparkSession, docs: DataFrame, index_dir: str,
                cfg: IncrementalDedupConfig = IncrementalDedupConfig(),
                ) -> DataFrame:
    """Rows of ``docs`` that survive exact + near dedup BOTH within the
    batch and against every committed batch in ``index_dir``.

    EAGER: the exact stage, the banding and (with an index) the cross
    pairs are checkpointed, and the connected-components step runs its
    Spark jobs, DURING this call — do not schedule around laziness.  A
    batch's candidate graph is small, so connected components checkpoints
    its edges, collects them and runs its rounds on the driver (two actions;
    graphs over ``dedup.DRIVER_CC_MAX_EDGES`` edge rows run one
    checkpointed Spark action per round instead).  What stays lazy in the
    returned frame is the join of the driver's labels back onto the batch
    ids and the survivor semi-join; they run inside the caller's action.
    With no committed batches (or a missing index dir) this equals the
    plain one-shot pipeline: ``exact_dedup`` + ``minhash_lsh_pairs`` +
    ``near_dedup_survivors``.
    """
    _check_index_config(index_dir, cfg, create=False)
    pdocs, banded, committed = _prepare(spark, docs, index_dir, cfg)
    return _survivors(spark, pdocs, banded, committed, index_dir, cfg)


def anchored_survivor_ids(cc: DataFrame, corpus_ids: DataFrame,
                          id_col: str = "doc_id") -> DataFrame:
    """Keep-set of NEW ids from anchored component labels.

    ``cc`` is ``connected_components`` output (id_col, cluster_id) over the
    union of new and corpus nodes; ``corpus_ids`` flags the anchors.  A
    component containing ANY corpus id keeps no new ids (the corpus member
    is the already-accepted survivor — this is what makes the transitive
    chain new-A ~ new-B ~ corpus-C drop A too); a corpus-free component
    keeps its min id.  One-column frame named ``id_col``.
    """
    flags = corpus_ids.select(F.col(id_col)).withColumn("__corpus", F.lit(1))
    clusters = (cc.join(flags, on=id_col, how="left")
                .groupBy("cluster_id")
                .agg(F.max("__corpus").alias("__has_corpus"),
                     F.min(F.when(F.col("__corpus").isNull(),
                                  F.col(id_col))).alias("__keep")))
    return (clusters.filter(F.col("__has_corpus").isNull())
            .select(F.col("__keep").alias(id_col)))


#: appended to every config-hash mismatch: commits written before the hash
#: payload became (banding params, id_col, text_col) carry hashes this
#: package never computes, so an identical-config retry of such a batch
#: also lands here
_REBUILD_HINT = (
    "; if the config did not change, the index may predate the current "
    "config hash (banding params, id_col, text_col) — rebuild it by "
    "re-running dedup_and_commit over every batch into an empty index "
    "directory")


def _check_committed(index_dir: str, batch_id: str,
                     cfg: IncrementalDedupConfig) -> dict[str, Any] | None:
    """Validate ``batch_id`` and return the already-committed manifest if
    one exists (directly, or retired into a compaction) — else None.
    A config-hash mismatch with the recorded commit raises."""
    if not _BATCH_ID_RE.match(batch_id):
        raise ValueError(
            f"batch_id {batch_id!r} must match {_BATCH_ID_RE.pattern} "
            f"(it becomes a directory name)")
    if batch_id.startswith("compact-"):
        raise ValueError(
            "batch ids starting with 'compact-' are reserved for "
            "compact_index targets")
    chash = _config_hash(cfg)
    man = _read_manifest(index_dir, batch_id)
    if man is not None:
        if man.get("config_hash") != chash:
            raise ValueError(
                f"batch {batch_id!r} is already committed with "
                f"config_hash={man.get('config_hash')!r}; this config "
                f"hashes to {chash!r} — refusing to silently skip a "
                f"different commit{_REBUILD_HINT}")
        return {**man, "already_committed": True}
    retired = _retired_config_hashes(index_dir)
    if batch_id in retired:
        # the id's own manifest was retired into a compaction batch; its
        # rows are already in the index — recommitting would duplicate
        # them under a now-ambiguous id.  The compaction manifest carries
        # each source's config hash, so the mismatch contract survives
        # retirement (None only for pre-closure-era manifests).
        rhash = retired[batch_id]
        if rhash is not None and rhash != chash:
            raise ValueError(
                f"batch {batch_id!r} was committed (then compacted) with "
                f"config_hash={rhash!r}; this config hashes to {chash!r} "
                f"— refusing to silently skip a different commit"
                f"{_REBUILD_HINT}")
        return {"batch_id": batch_id, "already_committed": True,
                "compacted": True, "config_hash": rhash}
    return None


def raw_batch_fingerprint(docs: DataFrame, id_col: str) -> dict[str, Any]:
    """Order-independent fingerprint of a RAW batch: row count plus the sum
    of per-id xxhash64 values (decimal — no overflow at any batch size).

    Recorded in the commit manifest and re-derived by the streaming twin
    when a committed NEWEST epoch re-presents: a true Spark replay carries
    the identical data (skip is safe), while a deleted/reset sink
    checkpoint re-batches old + NEW files under the same epoch id — the
    fingerprint mismatch turns that silent-document-drop into a loud
    error.  One small agg over the O(batch) frame, paid only on the
    commit path and on replay probes.
    """
    r = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.col(id_col)).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return {"raw_rows": int(r["n"]),
            "raw_id_hash": None if r["h"] is None else str(r["h"])}


#: public name for driver/CLI pre-checks: returns the manifest (with
#: ``already_committed=True``) when ``batch_id`` is already committed —
#: directly or retired into a compaction — and RAISES on a config-hash
#: mismatch with the recorded commit.  A bare membership test against
#: ``committed_batches`` cannot enforce that contract (a re-run with
#: different banding params would silently skip instead of refusing).
check_committed = _check_committed


def _commit_prepared(docs: DataFrame, banded: DataFrame, index_dir: str,
                     batch_id: str, cfg: IncrementalDedupConfig,
                     raw: dict[str, Any] | None = None) -> dict[str, Any]:
    """Write ``docs``'s digests + ``banded`` (both from :func:`_prepare`)
    under ``batch_id`` and manifest the commit (data first, manifest
    last)."""
    id_c, txt = cfg.id_col, cfg.text_col
    d1, d2 = content_digests(txt)
    obs = Observation()
    dig = (docs.select(F.col(id_c).alias("id"), d1.alias("d1"),
                       d2.alias("d2"))
           .observe(obs, F.count(F.lit(1)).alias("rows")))
    dig.write.mode("overwrite").parquet(
        os.path.join(index_dir, "digests", f"batch={batch_id}"))
    bnd = banded.select(F.col(id_c).alias("id"), "band", "band_hash")
    bnd.write.mode("overwrite").parquet(
        os.path.join(index_dir, "bands", f"batch={batch_id}"))
    # additive per-batch counts so readers can bound corpus bucket widths
    # without scanning the band index (see module docstring)
    bobs = Observation()
    stats = (docs.sparkSession.read.schema(_BANDS_SCHEMA).parquet(
                 os.path.join(index_dir, "bands", f"batch={batch_id}"))
             .groupBy("band", "band_hash")
             .agg(F.count(F.lit(1)).alias("n"))
             .observe(bobs, F.coalesce(F.sum("n"), F.lit(0))
                      .alias("band_rows")))
    stats.write.mode("overwrite").parquet(
        os.path.join(index_dir, "band_stats", f"batch={batch_id}"))

    man = {
        "batch_id": batch_id,
        "config_hash": _config_hash(cfg),
        "rows": int(obs.get["rows"]),
        "band_rows": int(bobs.get["band_rows"]),
        "index_signature": cfg.index_signature(),
        **(raw or {}),
    }
    os.makedirs(os.path.join(index_dir, "manifests"), exist_ok=True)
    manifest.write_atomic(_manifest_path(index_dir, batch_id), man)
    return man


def commit_batch(docs: DataFrame, index_dir: str, batch_id: str,
                 cfg: IncrementalDedupConfig = IncrementalDedupConfig(),
                 ) -> dict[str, Any]:
    """Record the RAW batch ``docs`` in the index under ``batch_id`` and
    return the commit manifest.

    What gets indexed is the batch's EXACT-stage output — one row per
    distinct digest not already in the index — NOT the near-dedup
    survivors: indexing docs that near-dedup later drops is what preserves
    candidate reachability through dropped intermediates (module
    docstring).  Pass the same raw frame you gave :func:`dedup_batch`
    (or use :func:`dedup_and_commit`, which computes the shared exact
    stage + banding once for both).

    Data dirs first (mode=overwrite, so a crashed commit is retryable),
    manifest last.  Idempotent: an existing manifest for ``batch_id``
    (directly, or retired into a compaction) with a matching config hash
    returns immediately with ``already_committed=True`` and touches
    nothing; a config mismatch raises.

    NULL-text docs: ``xxhash64`` of an all-NULL input returns its seed, so
    every NULL-text doc has the SAME content digest (they collapse to one
    survivor in the exact stage, within-batch and cross-batch) and the one
    survivor carries a single degenerate shingle ``[seed]`` — it banding-
    collides with other NULL-text survivors, which is consistent one-shot
    vs incremental (verified live, round-5 review: an earlier version of
    this docstring claimed NULL text yields NO band rows, which is false).
    Short/empty text yields one truncated gram, same as
    ``minhash_lsh_pairs``.
    """
    existing = _check_committed(index_dir, batch_id, cfg)
    if existing is not None:
        return existing
    _check_index_config(index_dir, cfg, create=True)
    spark = docs.sparkSession
    raw = raw_batch_fingerprint(docs, cfg.id_col)
    pdocs, banded, _committed = _prepare(spark, docs, index_dir, cfg)
    return _commit_prepared(pdocs, banded, index_dir, batch_id, cfg, raw)


def compact_index(spark: SparkSession, index_dir: str) -> dict[str, Any]:
    """Rewrite all committed batches into ONE batch, in place.

    A long-lived index — especially one fed by the micro-batching stream
    twin — accumulates one small dir per batch; every ``dedup_batch`` then
    unions hundreds of file listings.  Compaction coalesces them: read the
    committed digests/bands, rewrite under a single deterministic batch id
    (``compact-<hash of the source list>``), manifest it, then retire the
    sources.  ``band_stats`` are recomputed from the compacted band rows,
    so any width inflation from a previous crash-window is squeezed back
    to exact counts.

    Crash-safe and idempotent; EXCLUSIVE — do not run concurrently with
    commits OR with readers.  Compaction is the only operation that ever
    DELETES index data, and ``dedup_batch`` plans embed explicit source
    paths at plan-build time (and are lazy until the caller materializes),
    so a dir retired mid-read fails that reader's scan.  Run it in the
    maintenance window between batches — e.g. after the stream's
    ``availableNow`` drain terminates (the interplay test does exactly
    this); a failed reader is loud (PATH_NOT_FOUND), never silently
    wrong.  By-case safety:

    * crash before the target manifest: the target dirs are unmanifested
      garbage (invisible); retry rewrites them (deterministic id).
    * crash after the target manifest, before source retirement: target
      AND sources are briefly both committed — reads see duplicated
      digests/bands, which is CORRECT (anti-join and ``distinct`` absorb
      duplicates; band_stats widths inflate ≤2×, which only excludes
      buckets EARLIER).  The retry (or any later ``compact_index`` call)
      finishes the retirement via the manifest's recorded ``sources``
      before doing anything else.

    Returns the target manifest (or ``{"compacted": False}`` when ≤1
    committed batch remains after cleanup — nothing to do).
    """
    # finish any interrupted retirement first: every compaction manifest
    # lists its sources; a source still manifested is a leftover.  Only
    # compact-* manifests can carry sources — don't open the (possibly
    # thousands of) per-epoch manifests
    for b in committed_batches(index_dir):
        if not b.startswith("compact-"):
            continue
        man = _read_manifest(index_dir, b)
        if man is None:
            continue    # retired moments ago by an earlier iteration
        for src in man.get("sources", ()):
            _retire_batch(index_dir, src)

    committed = committed_batches(index_dir)
    if len(committed) <= 1:
        return {"compacted": False, "committed": committed}
    # the closure of ORIGINAL batch ids this target covers (with each
    # one's config hash): consumers that keyed side data by batch id (the
    # stream twin's out_dir survivors) stay resolvable after the source
    # manifests are retired, and commit_batch can still enforce its
    # config-mismatch contract for retired ids
    closure: dict[str, Any] = {}
    # each source's raw-batch fingerprint rides the closure too: the stream
    # twin's reset-checkpoint guard (streaming/incremental.py) verifies a
    # re-presented newest epoch against it, and without carrying it past
    # retirement a post-compaction "replay" carrying NEW files would be
    # silently skipped — the exact data-loss trap the fingerprint exists to
    # close (round-5 review)
    raws: dict[str, Any] = {}
    for src in committed:
        sman = _read_manifest(index_dir, src) or {}
        if "sources_closure" in sman:   # src is itself a compaction
            nested = sman.get("source_config_hashes", {})
            nraws = sman.get("source_raw_fingerprints", {})
            for s in sman["sources_closure"]:
                closure[s] = nested.get(s)
                raws[s] = nraws.get(s)
        else:
            closure[src] = sman.get("config_hash")
            raws[src] = (
                {"raw_rows": sman["raw_rows"],
                 "raw_id_hash": sman.get("raw_id_hash")}
                if sman.get("raw_rows") is not None else None)
    src_hash = hashlib.sha256(
        "\n".join(committed).encode()).hexdigest()[:16]
    target = f"compact-{src_hash}"

    obs = Observation()
    dig = (_read_committed(spark, index_dir, "digests", _DIGESTS_SCHEMA,
                           committed)
           .observe(obs, F.count(F.lit(1)).alias("rows")))
    dig.write.mode("overwrite").parquet(
        os.path.join(index_dir, "digests", f"batch={target}"))
    _read_committed(spark, index_dir, "bands", _BANDS_SCHEMA, committed) \
        .write.mode("overwrite").parquet(
            os.path.join(index_dir, "bands", f"batch={target}"))
    (spark.read.schema(_BANDS_SCHEMA)
     .parquet(os.path.join(index_dir, "bands", f"batch={target}"))
     .groupBy("band", "band_hash")
     .agg(F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(
         os.path.join(index_dir, "band_stats", f"batch={target}")))

    man = {"batch_id": target, "sources": committed,
           "sources_closure": sorted(closure),
           "source_config_hashes": {k: closure[k] for k in sorted(closure)},
           "source_raw_fingerprints": {k: raws.get(k)
                                       for k in sorted(closure)},
           "rows": int(obs.get["rows"]),
           "compacted": True,
           "config_hash": f"compact:{src_hash}"}
    manifest.write_atomic(_manifest_path(index_dir, target), man)
    for src in committed:
        _retire_batch(index_dir, src)
    return man


def _manifest_path(index_dir: str, batch_id: str) -> str:
    return os.path.join(index_dir, "manifests", f"{batch_id}.json")


def _read_manifest(index_dir: str, batch_id: str) -> dict[str, Any] | None:
    return manifest.read(_manifest_path(index_dir, batch_id))


def _retired_config_hashes(index_dir: str) -> dict[str, Any]:
    """{retired batch id -> its original config hash (or None for
    pre-closure-era manifests)} from compaction manifests.  Only
    ``compact-*`` manifests are opened — every other id contributes
    nothing, so this stays O(compactions), not O(batches), per call
    (a streaming index commits thousands of epoch manifests)."""
    out: dict[str, Any] = {}
    for b in committed_batches(index_dir):
        if not b.startswith("compact-"):
            continue
        man = _read_manifest(index_dir, b) or {}
        hashes = man.get("source_config_hashes", {})
        for src in man.get("sources_closure", ()):
            out[src] = hashes.get(src)
    return out


def effective_committed_batches(index_dir: str) -> set[str]:
    """Every batch id the index vouches for: directly committed ids plus
    the sources-closure of compaction batches — the set consumers keying
    SIDE data by original batch id (e.g. the stream twin's survivor dirs)
    should resolve against, since compaction retires source manifests."""
    out = set(committed_batches(index_dir))
    out.update(_retired_config_hashes(index_dir))
    return out


def committed_raw_fingerprint(index_dir: str,
                              batch_id: str) -> dict[str, Any] | None:
    """The raw-batch fingerprint recorded for a committed ``batch_id`` —
    from its own manifest, or (after compaction retired that manifest)
    from a compaction batch's ``source_raw_fingerprints`` closure.

    ``None`` means no fingerprint is recoverable: the batch was committed
    before fingerprints existed, or it was retired by a pre-closure-era
    compaction.  Callers (the stream twin's reset-checkpoint guard) treat
    that as the unverifiable legacy case, NOT as a mismatch."""
    man = _read_manifest(index_dir, batch_id)
    if man is not None:
        if man.get("raw_rows") is not None:
            return {"raw_rows": man["raw_rows"],
                    "raw_id_hash": man.get("raw_id_hash")}
        return None
    for b in committed_batches(index_dir):
        if not b.startswith("compact-"):
            continue
        cman = _read_manifest(index_dir, b) or {}
        fp = cman.get("source_raw_fingerprints", {}).get(batch_id)
        if fp is not None and fp.get("raw_rows") is not None:
            return fp
    return None


def _retire_batch(index_dir: str, batch_id: str) -> None:
    """Remove a batch's manifest FIRST (making it invisible), then its
    data dirs (best-effort — an orphaned unmanifested dir is harmless)."""
    import shutil

    mpath = _manifest_path(index_dir, batch_id)
    if os.path.exists(mpath):
        os.remove(mpath)
    for sub in ("digests", "bands", "band_stats"):
        shutil.rmtree(os.path.join(index_dir, sub, f"batch={batch_id}"),
                      ignore_errors=True)


def dedup_and_commit(spark: SparkSession, docs: DataFrame, index_dir: str,
                     batch_id: str,
                     cfg: IncrementalDedupConfig = IncrementalDedupConfig(),
                     survivors_sink=None,
                     ) -> tuple[DataFrame | None, dict[str, Any]]:
    """The composition to use for a full batch step: ONE shared exact
    stage + banding feeds both the survivor computation and the index
    writes (the shingle pipeline runs once), and ``survivors_sink(surv)``
    — e.g. a parquet write of the survivors — runs BEFORE the index
    commit, so a crash between them is retryable (the batch is not yet
    committed) and never loses survivors.

    Replay-safe: if ``batch_id`` is already committed (directly or retired
    into a compaction), returns ``(None, manifest)`` WITHOUT recomputing —
    re-running dedup would see the batch's own rows in the index and
    collapse the survivors to an empty frame (the trap both the CLI and
    the streaming twin guard).
    """
    existing = _check_committed(index_dir, batch_id, cfg)
    if existing is not None:
        return None, existing
    _check_index_config(index_dir, cfg, create=True)
    raw = raw_batch_fingerprint(docs, cfg.id_col)
    pdocs, banded, committed = _prepare(spark, docs, index_dir, cfg)
    surv = _survivors(spark, pdocs, banded, committed, index_dir, cfg)
    if survivors_sink is not None:
        survivors_sink(surv)
    man = _commit_prepared(pdocs, banded, index_dir, batch_id, cfg, raw)
    return surv, man
