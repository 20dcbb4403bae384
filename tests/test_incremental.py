"""Incremental dedup (operators/incremental.py): batch-over-index
semantics must equal the one-shot pipeline, and the index must be
crash-safe, idempotent, and degenerate-bucket-guarded.

Near-dup construction trick used throughout: a periodic string ``base*n``
has the SAME character-k-gram set for every n >= 2, so two repeats of the
same base are byte-distinct (survive exact dedup) yet have IDENTICAL
MinHash signatures — they collide in every band, deterministically.
Unrelated random-word texts collide in a band w.p. ~p^-r — negligible.
"""
from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from featureextraction_jl_spark.operators.dedup import (
    exact_dedup,
    minhash_bands,
    minhash_lsh_pairs,
    near_dedup_survivors,
)
from featureextraction_jl_spark.operators.incremental import (
    IncrementalDedupConfig,
    anchored_survivor_ids,
    commit_batch,
    committed_batches,
    dedup_batch,
    dedup_and_commit,
)

CFG = IncrementalDedupConfig(num_hashes=16, bands=4, shingle_k=4)

FAM_A = "shared duplicate document body with plenty of words "
FAM_B = "another family of nearly identical payload text here "


def _unique_text(i: int) -> str:
    rnd = random.Random(1000 + i)
    words = [f"w{rnd.randrange(10_000)}" for _ in range(12)]
    return f"doc number {i} " + " ".join(words)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _one_shot(docs, cfg=CFG):
    d = exact_dedup(docs, cfg.text_col, cfg.id_col)
    pairs = minhash_lsh_pairs(d, cfg.text_col, cfg.id_col,
                              num_hashes=cfg.num_hashes, bands=cfg.bands,
                              k=cfg.shingle_k, max_bucket=cfg.max_bucket)
    return near_dedup_survivors(d, pairs, cfg.id_col)


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_two_batches_equal_one_shot_over_union(spark, tmp_path):
    """Survivors of batch1 (committed) plus batch2-vs-index must equal the
    one-shot exact+near dedup over the concatenation, given monotone ids."""
    b1 = _docs(spark, [
        (0, FAM_A * 2),            # near-dup family A, survivor
        (1, FAM_A * 3),            # dropped (near-dup of 0)
        (2, _unique_text(2)),
        (3, _unique_text(2)),      # byte-exact dup of 2 -> dropped
        (4, _unique_text(4)),
    ])
    b2 = _docs(spark, [
        (10, _unique_text(2)),     # byte-exact dup of corpus doc 2
        (11, FAM_A * 4),           # near-dup of corpus family A
        (12, FAM_B * 2),           # new family: batch2-internal near-dups
        (13, FAM_B * 5),           #   -> 12 survives, 13 dropped
        (14, _unique_text(14)),
    ])
    idx = str(tmp_path / "idx")
    s1, man1 = dedup_and_commit(spark, b1, idx, "b1", CFG)
    assert _ids(s1) == {0, 2, 4}
    assert man1["rows"] == 4        # exact-stage rows indexed, incl. dropped near-dup 1
    s2 = dedup_batch(spark, b2, idx, CFG)
    assert _ids(s2) == {12, 14}

    full = _one_shot(b1.unionByName(b2))
    assert _ids(s1) | _ids(s2) == _ids(full) == {0, 2, 4, 12, 14}


def test_first_batch_without_index_equals_plain_pipeline(spark, tmp_path):
    docs = _docs(spark, [(0, FAM_A * 2), (1, FAM_A * 3),
                         (2, _unique_text(2)), (3, _unique_text(2))])
    got = dedup_batch(spark, docs, str(tmp_path / "nonexistent"), CFG)
    assert _ids(got) == _ids(_one_shot(docs)) == {0, 2}


def test_anchored_transitive_chain_drops_indirect_member(spark):
    """Component {corpus 7, new 20, new 21} where 21 only links via 20:
    BOTH new ids must drop; a corpus-free component keeps its min id."""
    cc = spark.createDataFrame(
        [(7, 7), (20, 7), (21, 7),      # anchored component
         (30, 30), (31, 30),            # new-only component
         (40, 40)],                      # isolated new doc
        "doc_id long, cluster_id long")
    corpus = spark.createDataFrame([(7,)], "doc_id long")
    keep = anchored_survivor_ids(cc, corpus, "doc_id")
    assert _ids(keep) == {30, 40}


def test_recommit_is_idempotent_and_config_mismatch_raises(spark, tmp_path):
    docs = _docs(spark, [(0, _unique_text(0)), (1, _unique_text(1))])
    idx = str(tmp_path / "idx")
    man = commit_batch(docs, idx, "b1", CFG)
    assert man["rows"] == 2 and "already_committed" not in man
    again = commit_batch(docs, idx, "b1", CFG)
    assert again["already_committed"] is True
    assert committed_batches(idx) == ["b1"]
    # dedup_and_commit replay: manifest back, NO recompute (survivors None)
    s, man2 = dedup_and_commit(spark, docs, idx, "b1", CFG)
    assert s is None and man2["already_committed"] is True
    # mismatch = different BANDING params (the commit-relevant config);
    # per-call knobs like max_bucket are covered by
    # test_recommit_with_commit_irrelevant_knobs_is_noop
    with pytest.raises(ValueError, match="config_hash"):
        commit_batch(docs, idx, "b1",
                     IncrementalDedupConfig(num_hashes=8, bands=2,
                                            shingle_k=3))



def test_legacy_config_hash_mismatch_names_the_rebuild(spark, tmp_path):
    """A commit whose config_hash predates the current hash payload fails
    the identical-config retry; the error says the index may predate the
    hash and names the rebuild (README: rebuilding an incremental dedup
    index)."""
    from featureextraction_jl_spark import manifest

    docs = _docs(spark, [(0, _unique_text(0)), (1, _unique_text(1))])
    idx = str(tmp_path / "idx")
    commit_batch(docs, idx, "b1", CFG)
    path = os.path.join(idx, "manifests", "b1.json")
    manifest.write_atomic(path, {**manifest.read(path),
                                 "config_hash": "0123456789abcdef"})
    with pytest.raises(ValueError, match="predate.*rebuild"):
        commit_batch(docs, idx, "b1", CFG)


def test_recommit_with_commit_irrelevant_knobs_is_noop(spark, tmp_path):
    """id_col/text_col/max_bucket are per-call knobs that cannot change
    what a commit writes (exact-stage digests + UNCAPPED bands), so a
    crashed orchestrator retrying an already-committed batch with a
    different max_bucket must get the idempotent no-op — not the
    config-mismatch error (round-5 review: hashing the full dataclass
    broke the retry contract on knobs that cannot change the commit)."""
    docs = _docs(spark, [(0, _unique_text(0)), (1, _unique_text(1))])
    idx = str(tmp_path / "idx")
    commit_batch(docs, idx, "b1", CFG)
    retry = IncrementalDedupConfig(
        num_hashes=CFG.num_hashes, bands=CFG.bands,
        shingle_k=CFG.shingle_k, max_bucket=2000, id_col="doc_id")
    again = commit_batch(docs, idx, "b1", retry)
    assert again["already_committed"] is True
    # and the replay early-return path honors the same contract
    s, man = dedup_and_commit(spark, docs, idx, "b1", retry)
    assert s is None and man["already_committed"] is True


def test_banding_param_change_against_existing_index_raises(spark, tmp_path):
    docs = _docs(spark, [(0, _unique_text(0))])
    idx = str(tmp_path / "idx")
    commit_batch(docs, idx, "b1", CFG)
    other = IncrementalDedupConfig(num_hashes=32, bands=8, shingle_k=4)
    with pytest.raises(ValueError, match="banding params"):
        dedup_batch(spark, docs, idx, other)
    with pytest.raises(ValueError, match="banding params"):
        commit_batch(docs, idx, "b2", other)


def test_bad_banding_raises_before_the_index_is_created(spark, tmp_path):
    """A banding that does not divide num_hashes raises before anything is
    written, so the corrected rerun on the same index dir succeeds instead
    of failing the frozen-params check against the rejected banding."""
    docs = _docs(spark, [(0, _unique_text(0)), (1, _unique_text(1))])
    idx = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="positive divisor"):
        dedup_and_commit(spark, docs, idx, "b1",
                         IncrementalDedupConfig(num_hashes=30, bands=8))
    assert not os.path.exists(os.path.join(idx, "index.json"))
    surv, man = dedup_and_commit(spark, docs, idx, "b1",
                                 IncrementalDedupConfig(num_hashes=32, bands=8))
    assert _ids(surv) == {0, 1}
    assert committed_batches(idx) == ["b1"]


def test_bad_batch_id_raises(spark, tmp_path):
    docs = _docs(spark, [(0, _unique_text(0))])
    with pytest.raises(ValueError, match="batch_id"):
        commit_batch(docs, str(tmp_path / "idx"), "has/slash", CFG)


def test_unmanifested_data_dirs_are_invisible(spark, tmp_path):
    """A crashed commit = data dirs without a manifest: readers must not
    see them.  Plant phantom digests/bands that WOULD kill batch2's docs
    if read; batch2 must be unaffected."""
    idx = str(tmp_path / "idx")
    b1 = _docs(spark, [(0, _unique_text(0))])
    dedup_and_commit(spark, b1, idx, "b1", CFG)

    b2 = _docs(spark, [(10, FAM_A * 2), (11, _unique_text(11))])
    from featureextraction_jl_spark.operators.dedup import (
        content_digests, minhash_bands)
    d1, d2 = content_digests("text")
    (b2.select(F.col("doc_id").alias("id"), d1.alias("d1"), d2.alias("d2"))
       .write.parquet(os.path.join(idx, "digests", "batch=phantom")))
    (minhash_bands(b2, "text", "doc_id", CFG.num_hashes, CFG.bands,
                   CFG.shingle_k)
       .select(F.col("doc_id").alias("id"), "band", "band_hash")
       .write.parquet(os.path.join(idx, "bands", "batch=phantom")))

    assert committed_batches(idx) == ["b1"]
    got = dedup_batch(spark, b2, idx, CFG)
    assert _ids(got) == {10, 11}


def test_torn_manifest_tmp_is_invisible(tmp_path):
    """A crash inside the commit's manifest write leaves only
    ``<batch>.json.tmp``: the batch is not committed, so a retry commits
    it.  A malformed final-name manifest raises, naming the file."""
    from featureextraction_jl_spark.operators.incremental import (
        _check_committed)

    idx = str(tmp_path / "idx")
    mdir = os.path.join(idx, "manifests")
    os.makedirs(mdir)
    with open(os.path.join(mdir, "b1.json.tmp"), "w") as f:
        f.write('{"batch_id": "b1", "config_')
    assert committed_batches(idx) == []
    assert _check_committed(idx, "b1", CFG) is None

    with open(os.path.join(mdir, "b1.json"), "w") as f:
        f.write('{"batch_id": "b1", "config_')
    assert committed_batches(idx) == ["b1"]
    with pytest.raises(ValueError, match="b1.json"):
        _check_committed(idx, "b1", CFG)


def test_heavy_corpus_bucket_guard_sums_stats_across_batches(spark,
                                                             tmp_path):
    """band_stats are additive: two committed batches of 3+2 same-family
    docs make every family band bucket width 5.  With max_bucket=3 the
    corpus side of those buckets is excluded (a new family member gets no
    cross candidates and SURVIVES); with the guard off it is dropped.
    commit_batch deliberately does not re-verify, so committing raw
    near-dups is the documented way to fabricate a wide corpus bucket."""
    cfg = IncrementalDedupConfig(num_hashes=16, bands=4, shingle_k=4,
                                 max_bucket=3)
    idx = str(tmp_path / "idx")
    commit_batch(_docs(spark, [(i, FAM_A * (2 + i)) for i in range(3)]),
                 idx, "b1", cfg)
    commit_batch(_docs(spark, [(i, FAM_A * (2 + i)) for i in range(3, 5)]),
                 idx, "b2", cfg)

    newbie = _docs(spark, [(10, FAM_A * 9)])
    assert _ids(dedup_batch(spark, newbie, idx, cfg)) == {10}
    uncapped = IncrementalDedupConfig(num_hashes=16, bands=4, shingle_k=4,
                                      max_bucket=None)
    assert _ids(dedup_batch(spark, newbie, idx, uncapped)) == set()


def test_short_and_null_texts_exact_dedup_but_never_near_dup(spark,
                                                             tmp_path):
    """NULL text produces no shingles (hence no band rows); short text
    produces one truncated gram.  Byte-equal ones still dedup cross-batch
    via digests; distinct ones all survive near-dedup."""
    idx = str(tmp_path / "idx")
    b1 = _docs(spark, [(0, "ab"), (1, None), (2, _unique_text(2))])
    s1, _ = dedup_and_commit(spark, b1, idx, "b1", CFG)
    assert _ids(s1) == {0, 1, 2}
    b2 = _docs(spark, [(10, "ab"), (11, None), (12, "cd")])
    s2 = dedup_batch(spark, b2, idx, CFG)
    # 10 = byte-dup of corpus 0; 11 = null-text twin of corpus 1 (same
    # digest inputs -> exact-dups); 12 is new
    assert _ids(s2) == {12}


def test_cli_job_dry_run_then_commit(spark, tmp_path):
    from jobs.dedup_increment import main

    docs = str(tmp_path / "docs")
    _docs(spark, [(0, FAM_A * 2), (1, FAM_A * 3),
                  (2, _unique_text(2))]).write.parquet(docs)
    idx = str(tmp_path / "idx")
    out1 = str(tmp_path / "out1")
    base = ["--docs", docs, "--index", idx, "--batch-id", "b1",
            "--num-hashes", "16", "--bands", "4", "--shingle-k", "4"]
    main(base + ["--out", out1, "--dry-run"])
    assert committed_batches(idx) == []          # dry run: no commit
    assert _ids(spark.read.parquet(out1)) == {0, 2}

    main(base + ["--out", out1])
    assert committed_batches(idx) == ["b1"]
    with open(os.path.join(idx, "manifests", "b1.json")) as fh:
        # exact-stage rows (all 3 texts are byte-distinct), not survivors
        assert json.load(fh)["rows"] == 3

    # retried run of the committed batch: the CLI-level replay trap — a
    # recompute would dedup the batch against its own committed rows and
    # overwrite --out with an empty frame; the guard must leave it intact
    main(base + ["--out", out1])
    assert _ids(spark.read.parquet(out1)) == {0, 2}

    # second batch sees the committed index
    docs2 = str(tmp_path / "docs2")
    _docs(spark, [(10, FAM_A * 5), (11, _unique_text(11))]) \
        .write.parquet(docs2)
    out2 = str(tmp_path / "out2")
    main(["--docs", docs2, "--index", idx, "--batch-id", "b2",
          "--num-hashes", "16", "--bands", "4", "--shingle-k", "4",
          "--out", out2])
    assert _ids(spark.read.parquet(out2)) == {11}
    assert committed_batches(idx) == ["b1", "b2"]


# ---------------------------------------------------------------------------
# Streaming twin (streaming/incremental.py)
# ---------------------------------------------------------------------------

def _write_parquet_file(path, ids, texts, mtime):
    """ONE parquet file (not a dir) with a pinned mtime, so the file
    stream's (mtime, path) ordering makes micro-batch order deterministic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": pa.array(ids, type=pa.int64()),
                  "text": pa.array(texts, type=pa.string())}), path)
    os.utime(path, (mtime, mtime))


def test_stream_equals_sequential_batch_cli(spark, tmp_path):
    """availableNow + maxFilesPerTrigger=1 over two landed files must build
    exactly the corpus the batch path builds running the two batches in
    mtime order against a fresh index."""
    from featureextraction_jl_spark.streaming.incremental import (
        read_stream_corpus, start_dedup_stream)

    sdir = tmp_path / "landing"
    sdir.mkdir()
    b1_ids = [0, 1, 2]
    b1_txt = [FAM_A * 2, FAM_A * 3, _unique_text(2)]
    b2_ids = [10, 11, 12]
    b2_txt = [FAM_A * 4, _unique_text(2), _unique_text(12)]
    _write_parquet_file(str(sdir / "a.parquet"), b1_ids, b1_txt,
                        1_000_000)
    _write_parquet_file(str(sdir / "b.parquet"), b2_ids, b2_txt,
                        2_000_000)

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    q = start_dedup_stream(spark, str(sdir), "doc_id long, text string",
                           idx, out, str(tmp_path / "chk"), CFG,
                           max_files_per_trigger=1)
    q.awaitTermination(300)
    assert committed_batches(idx) == ["mb000000000000", "mb000000000001"]
    got = _ids(read_stream_corpus(spark, out, idx))

    # sequential batch-path reference on a second index
    idx2 = str(tmp_path / "idx2")
    s1, _ = dedup_and_commit(spark, _docs(spark, list(zip(b1_ids, b1_txt))),
                             idx2, "b1", CFG)
    s2, _ = dedup_and_commit(spark, _docs(spark, list(zip(b2_ids, b2_txt))),
                             idx2, "b2", CFG)
    want = _ids(s1) | _ids(s2)
    assert got == want == {0, 2, 12}   # 1~0 in-batch; 10~corpus-0; 11 exact-dup of corpus 2


def test_foreach_batch_replay_after_commit_is_noop(spark, tmp_path):
    """The one data-loss trap: replaying an epoch whose commit landed but
    whose sink checkpoint did not must NOT re-run dedup (the index now
    contains the batch's own docs) and must leave the survivors intact."""
    from featureextraction_jl_spark.streaming.incremental import (
        dedup_foreach_batch, read_stream_corpus)

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    fn = dedup_foreach_batch(idx, out, CFG)
    docs = _docs(spark, [(0, FAM_A * 2), (1, FAM_A * 3),
                         (2, _unique_text(2))])
    fn(docs, 0)
    assert _ids(read_stream_corpus(spark, out, idx)) == {0, 2}
    fn(docs, 0)   # replay of the committed epoch
    assert _ids(read_stream_corpus(spark, out, idx)) == {0, 2}

    # a genuinely NEW epoch with the same docs IS deduped against the index
    fn(docs, 1)
    assert committed_batches(idx) == ["mb000000000000", "mb000000000001"]
    assert _ids(read_stream_corpus(spark, out, idx)) == {0, 2}


def test_foreach_batch_reset_with_new_docs_raises(spark, tmp_path):
    """A deleted/reset sink checkpoint re-presents the NEWEST committed
    epoch id with old + NEW files batched under it — indistinguishable
    from a safe replay by epoch arithmetic alone.  The raw-batch
    fingerprint in the manifest catches it: silent skip here would drop
    the new documents with no trace."""
    from featureextraction_jl_spark.streaming.incremental import (
        dedup_foreach_batch, read_stream_corpus)

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    fn = dedup_foreach_batch(idx, out, CFG)
    docs = _docs(spark, [(0, FAM_A * 2), (1, _unique_text(1))])
    fn(docs, 0)
    assert _ids(read_stream_corpus(spark, out, idx)) == {0, 1}
    # same epoch id, but the "replay" now carries an extra new document
    more = _docs(spark, [(0, FAM_A * 2), (1, _unique_text(1)),
                         (2, _unique_text(2))])
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        fn(more, 0)
    # same row count but different ids: the id-hash side catches it
    swapped = _docs(spark, [(0, FAM_A * 2), (3, _unique_text(1))])
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        fn(swapped, 0)
    # survivors untouched by the refused calls
    assert _ids(read_stream_corpus(spark, out, idx)) == {0, 1}


def test_cli_recommit_with_changed_params_raises(spark, tmp_path):
    """The CLI's already-committed early return must enforce the library's
    config-hash contract: a retry under DIFFERENT banding params is not a
    replay and silently skipping it would leave --out stale with exit 0."""
    from jobs.dedup_increment import main

    docs_dir = str(tmp_path / "docs")
    _docs(spark, [(0, FAM_A * 2), (1, _unique_text(1))]) \
        .write.mode("overwrite").parquet(docs_dir)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    base = ["--docs", docs_dir, "--index", idx, "--out", out,
            "--batch-id", "b1"]
    main(base)
    # identical retry: idempotent no-op (already_committed JSON, exit 0)
    main(base)
    with pytest.raises(ValueError, match="refusing to silently skip"):
        main(base + ["--num-hashes", "16", "--bands", "4"])


def test_read_stream_corpus_requires_committed_batches(spark, tmp_path):
    from featureextraction_jl_spark.streaming.incremental import (
        read_stream_corpus)
    with pytest.raises(ValueError, match="no committed"):
        read_stream_corpus(spark, str(tmp_path / "out"),
                           str(tmp_path / "idx"))


# ---------------------------------------------------------------------------
# Index compaction
# ---------------------------------------------------------------------------

def test_compact_index_preserves_dedup_semantics(spark, tmp_path):
    from featureextraction_jl_spark.operators.incremental import (
        compact_index, effective_committed_batches)

    idx = str(tmp_path / "idx")
    dedup_and_commit(spark, _docs(spark, [(0, FAM_A * 2),
                                          (1, _unique_text(1))]),
                     idx, "b1", CFG)
    dedup_and_commit(spark, _docs(spark, [(10, FAM_B * 2),
                                          (11, _unique_text(11))]),
                     idx, "b2", CFG)
    probe = _docs(spark, [(20, FAM_A * 5),        # near-dup of corpus b1
                          (21, FAM_B * 7),        # near-dup of corpus b2
                          (22, _unique_text(1)),  # exact-dup of corpus b1
                          (23, _unique_text(23))])
    before = _ids(dedup_batch(spark, probe, idx, CFG))
    assert before == {23}

    man = compact_index(spark, idx)
    assert man["sources"] == ["b1", "b2"]
    assert committed_batches(idx) == [man["batch_id"]]
    assert man["batch_id"].startswith("compact-") and man["rows"] == 4
    assert effective_committed_batches(idx) == {man["batch_id"], "b1", "b2"}
    assert _ids(dedup_batch(spark, probe, idx, CFG)) == before

    # nothing left to compact; and re-commit of a retired id is refused
    assert compact_index(spark, idx)["compacted"] is False
    again = commit_batch(_docs(spark, [(0, FAM_A * 2)]), idx, "b1", CFG)
    assert again["already_committed"] is True and again["compacted"] is True
    # the config-mismatch contract survives retirement (the compaction
    # manifest carries per-source config hashes)
    with pytest.raises(ValueError, match="then compacted"):
        commit_batch(_docs(spark, [(0, FAM_A * 2)]), idx, "b1",
                     IncrementalDedupConfig(num_hashes=8, bands=2,
                                            shingle_k=3))
    # compact-* ids are reserved for compaction targets
    with pytest.raises(ValueError, match="reserved"):
        commit_batch(_docs(spark, [(50, _unique_text(50))]), idx,
                     "compact-feedbeef", CFG)


def test_compact_index_retry_finishes_interrupted_retirement(spark,
                                                             tmp_path):
    """Simulate a crash between target manifest and source retirement by
    restoring one source after a successful compaction: reads must stay
    correct under the duplication, and the next compact_index call must
    retire the leftover without creating a second target."""
    import shutil

    from featureextraction_jl_spark.operators.incremental import (
        compact_index)

    idx = str(tmp_path / "idx")
    dedup_and_commit(spark, _docs(spark, [(0, _unique_text(0))]), idx,
                     "b1", CFG)
    dedup_and_commit(spark, _docs(spark, [(1, _unique_text(1))]), idx,
                     "b2", CFG)
    saved = str(tmp_path / "saved")
    shutil.copytree(idx, saved)
    man = compact_index(spark, idx)
    # resurrect b1 (manifest + data dirs) = the unfinished crash window
    shutil.copy(os.path.join(saved, "manifests", "b1.json"),
                os.path.join(idx, "manifests", "b1.json"))
    for sub in ("digests", "bands", "band_stats"):
        shutil.copytree(os.path.join(saved, sub, "batch=b1"),
                        os.path.join(idx, sub, "batch=b1"))
    assert set(committed_batches(idx)) == {man["batch_id"], "b1"}

    # duplicated index entries are absorbed: an exact dup is dropped once
    probe = _docs(spark, [(10, _unique_text(0)), (11, _unique_text(11))])
    assert _ids(dedup_batch(spark, probe, idx, CFG)) == {11}

    out = compact_index(spark, idx)
    assert out["compacted"] is False
    assert committed_batches(idx) == [man["batch_id"]]


def test_stream_survives_compaction(spark, tmp_path):
    """After compacting a stream-fed index: read_stream_corpus still
    resolves epochs via the sources closure, and a replayed retired epoch
    stays a noop."""
    from featureextraction_jl_spark.operators.incremental import (
        compact_index)
    from featureextraction_jl_spark.streaming.incremental import (
        dedup_foreach_batch, read_stream_corpus)

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    fn = dedup_foreach_batch(idx, out, CFG)
    fn(_docs(spark, [(0, FAM_A * 2), (1, _unique_text(1))]), 0)
    fn(_docs(spark, [(10, FAM_A * 3), (11, _unique_text(11))]), 1)
    assert _ids(read_stream_corpus(spark, out, idx)) == {0, 1, 11}

    compact_index(spark, idx)
    assert _ids(read_stream_corpus(spark, out, idx)) == {0, 1, 11}
    fn(_docs(spark, [(10, FAM_A * 3), (11, _unique_text(11))]), 1)  # replay
    assert _ids(read_stream_corpus(spark, out, idx)) == {0, 1, 11}


def test_reset_with_new_docs_raises_even_after_compaction(spark, tmp_path):
    """The raw-batch fingerprint must survive manifest retirement: after
    compact_index retires the newest epoch's own manifest, a
    reset-checkpoint 'replay' of that epoch carrying NEW files must still
    raise, not silently skip (round-5 review: the guard read only the
    direct manifest, so compaction reopened the exact data-loss trap the
    fingerprint was added to close)."""
    from featureextraction_jl_spark.operators.incremental import (
        committed_raw_fingerprint, compact_index)
    from featureextraction_jl_spark.streaming.incremental import (
        dedup_foreach_batch, read_stream_corpus)

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    fn = dedup_foreach_batch(idx, out, CFG)
    fn(_docs(spark, [(0, _unique_text(0))]), 0)
    # a CLI-committed batch alongside the stream epoch (the reviewed case)
    commit_batch(_docs(spark, [(50, _unique_text(50))]), idx, "b1", CFG)
    fp = committed_raw_fingerprint(idx, "mb000000000000")
    assert fp is not None and fp["raw_rows"] == 1

    compact_index(spark, idx)
    # fingerprint recoverable from the compaction closure, and again after
    # a second-level compaction (nested closures propagate it)
    assert committed_raw_fingerprint(idx, "mb000000000000") == fp
    commit_batch(_docs(spark, [(60, _unique_text(60))]), idx, "b2", CFG)
    compact_index(spark, idx)
    assert committed_raw_fingerprint(idx, "mb000000000000") == fp

    # identical replay of the newest epoch stays a noop...
    fn(_docs(spark, [(0, _unique_text(0))]), 0)
    assert 0 in _ids(read_stream_corpus(spark, out, idx))
    # ...but a reset carrying a NEW doc under the same epoch id raises
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        fn(_docs(spark, [(0, _unique_text(0)), (2, _unique_text(2))]), 0)


def test_stream_epoch_collision_and_regression_raise(spark, tmp_path):
    """A checkpoint reset (or two streams sharing index+prefix) presents
    epoch ids that disagree with the committed history: only a replay of
    the NEWEST committed epoch is a legitimate noop — anything older must
    refuse loudly rather than silently drop the new micro-batch."""
    from featureextraction_jl_spark.streaming.incremental import (
        dedup_foreach_batch)

    idx = str(tmp_path / "idx")
    fn = dedup_foreach_batch(idx, str(tmp_path / "out"), CFG)
    fn(_docs(spark, [(0, _unique_text(0))]), 0)
    fn(_docs(spark, [(1, _unique_text(1))]), 1)
    fn(_docs(spark, [(1, _unique_text(1))]), 1)   # newest replay: noop
    with pytest.raises(RuntimeError, match="collision"):
        fn(_docs(spark, [(2, _unique_text(2))]), 0)
    fn(_docs(spark, [(3, _unique_text(3))]), 5)   # gaps forward are fine
    with pytest.raises(RuntimeError, match="regression"):
        fn(_docs(spark, [(4, _unique_text(4))]), 3)


@pytest.mark.parametrize("seed", [0, 1])
def test_random_multi_batch_equivalence(spark, tmp_path, seed):
    """Randomized 3-batch property: incremental survivors over committed
    batches must equal the one-shot pipeline over the concatenation.
    Corpus mixes periodic near-dup families (deterministic LSH collision),
    byte-exact copies (within and across batches), unique texts, NULLs,
    empty and sub-k strings; ids are batch-monotone."""
    rnd = random.Random(seed)
    fams = [f"family {f} periodic body with several words in it " for f in
            range(3)]
    all_rows, batches, next_id = [], [], 0
    for _ in range(3):
        rows = []
        for _ in range(rnd.randrange(8, 15)):
            kind = rnd.random()
            if kind < 0.3:
                t = rnd.choice(fams) * rnd.randrange(2, 6)
            elif kind < 0.45 and all_rows:
                t = rnd.choice(all_rows)[1]       # exact copy of anything
            elif kind < 0.55:
                t = rnd.choice([None, "", "ab", "xyz"])
            else:
                t = _unique_text(next_id)
            rows.append((next_id, t))
            next_id += 1
        batches.append(rows)
        all_rows.extend(rows)

    idx = str(tmp_path / "idx")
    surv: set[int] = set()
    for i, rows in enumerate(batches):
        s, _ = dedup_and_commit(spark, _docs(spark, rows), idx,
                                f"b{i}", CFG)
        surv |= _ids(s)
    want = _ids(_one_shot(_docs(spark, all_rows)))
    assert surv == want


def test_dedup_batch_plan_invariants(spark, tmp_path, monkeypatch):
    """Physical-plan shape of the batch-vs-index composition: the heavy-
    bucket exclusion must reach the index side as a BROADCAST anti-join
    (the whole point of band_stats is to avoid a width window / shuffle
    over the big band index), and nothing in the plan may degenerate to a
    cartesian product.  _chk is stubbed to identity so the full lazy plan
    (normally segmented by the eager checkpoints) is visible end-to-end."""
    from featureextraction_jl_spark.operators import incremental as mod

    idx = str(tmp_path / "idx")
    dedup_and_commit(spark, _docs(spark, [(0, FAM_A * 2),
                                          (1, _unique_text(1))]),
                     idx, "b1", CFG)
    monkeypatch.setattr(mod, "_chk", lambda df: df)
    probe = _docs(spark, [(10, FAM_A * 3), (11, _unique_text(11))])
    root = dedup_batch(spark, probe, idx, CFG)._jdf.queryExecution() \
        .executedPlan()
    plan = root.toString()
    import re

    assert "CartesianProduct" not in plan
    # the tiny heavy-bucket list is hint-forced broadcast (F.broadcast),
    # AQE-independent: a LeftAnti BroadcastHashJoin on the band keys
    assert re.search(r"BroadcastHashJoin \[band#\d+, band_hash#\d+L?\], "
                     r"\[band#\d+, band_hash#\d+L?\], LeftAnti", plan)
    # the corpus band index is scanned, never width-windowed: every Window
    # operator is the batch-side max_bucket cap (the lazy plan may hold it
    # in more than one branch), and none has the index bands scan (the
    # only scan of the stored bands schema) below it
    bands_scan = "ReadSchema: struct<id:bigint,band:int,band_hash:bigint>"
    windows = [n.toString() for n in _plan_nodes(root)
               if n.nodeName() == "Window"]
    assert windows and bands_scan in plan
    assert not [w for w in windows if bands_scan in w]


def _plan_nodes(plan):
    """Every node of a JVM physical plan, AQE's wrapper unwrapped."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_copy_of_dropped_near_dup_still_dedups(spark, tmp_path):
    """The index records the exact stage, not the survivors: a batch2 doc
    byte-equal to a batch1 doc that near-dedup DROPPED must still dedup
    (its cluster's survivor is published), matching the one-shot pipeline.
    Survivors-only indexing would keep it (round-5 review finding)."""
    idx = str(tmp_path / "idx")
    b1 = _docs(spark, [(0, FAM_A * 2), (1, FAM_A * 3)])     # 1 dropped
    s1, man = dedup_and_commit(spark, b1, idx, "b1", CFG)
    assert _ids(s1) == {0} and man["rows"] == 2              # both indexed
    b2 = _docs(spark, [(10, FAM_A * 3), (11, _unique_text(11))])
    assert _ids(dedup_batch(spark, b2, idx, CFG)) == {11}
    assert _ids(_one_shot(b1.unionByName(b2))) == {0, 11}


def test_real_corpus_contract_vs_one_shot(spark, sf_dir, tmp_path):
    """On the real documents table (heavy planted near-dup structure) the
    equivalence contract holds in its exact documented form: the one-shot
    survivor set is a SUBSET of the incremental one (nothing one-shot
    keeps is ever lost), and every extra incremental survivor is a
    retroactive merge — its one-shot cluster's min-id survivor is a
    different doc that also survives incrementally (a later batch bridged
    two already-published clusters; no published row is retracted)."""
    from featureextraction_jl_spark.operators.dedup import (
        connected_components)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    b1 = docs.filter("doc_id < 250")
    b2 = docs.filter("doc_id >= 250")
    idx = str(tmp_path / "idx")
    s1, _ = dedup_and_commit(spark, b1, idx, "b1",
                             IncrementalDedupConfig())
    s2 = dedup_batch(spark, b2, idx, IncrementalDedupConfig())
    inc = _ids(s1) | _ids(s2)

    d = exact_dedup(docs, "text", "doc_id")
    pairs = minhash_lsh_pairs(d, "text", "doc_id")
    full = _ids(near_dedup_survivors(d, pairs, "doc_id"))
    assert full <= inc
    extras = inc - full
    if extras:   # seen: ~27 on sf0.001 — all retroactive merges
        lab = {r.doc_id: r.cluster_id
               for r in connected_components(
                   pairs, d.select("doc_id"), "doc_id").collect()}
        assert all(lab[e] != e and lab[e] in inc for e in extras)


def test_recommit_with_different_text_col_raises(spark, tmp_path):
    """text_col picks which column's VALUES a commit writes — on a
    multi-column frame a retry with a different text_col is NOT a replay
    and must raise, never silently return already_committed (round-5
    review, second pass)."""
    docs = spark.createDataFrame(
        [(0, _unique_text(0), "other body")],
        "doc_id long, text string, body string")
    idx = str(tmp_path / "idx")
    commit_batch(docs, idx, "b1", CFG)
    other = IncrementalDedupConfig(num_hashes=CFG.num_hashes,
                                   bands=CFG.bands, shingle_k=CFG.shingle_k,
                                   text_col="body")
    with pytest.raises(ValueError, match="config_hash"):
        commit_batch(docs, idx, "b1", other)


def _prepared_plans(spark, docs, idx, monkeypatch):
    """``_prepare``'s outputs plus the executed plans of the two frames it
    checkpoints (exact stage, banding)."""
    from featureextraction_jl_spark.operators import incremental as mod

    plans = []

    def chk(df):
        out = mod.eager_checkpoint(df)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(mod, "_chk", chk)
    return mod._prepare(spark, docs, idx, CFG), plans


def test_banding_spread_over_default_parallelism(spark, tmp_path,
                                                 monkeypatch):
    """A one-file batch's exact stage is one partition; its banding runs
    hash-repartitioned by id over defaultParallelism tasks.  An exact stage
    that already has that many partitions is banded without a repartition
    Exchange."""
    cores = spark.sparkContext.defaultParallelism
    rows = [(i, FAM_A * (2 + i % 3) if i % 4 == 0 else _unique_text(i))
            for i in range(40)]
    src = str(tmp_path / "batch")
    _docs(spark, rows).coalesce(1).write.parquet(src)
    (docs, banded, _), plans = _prepared_plans(
        spark, spark.read.parquet(src), str(tmp_path / "idx1"), monkeypatch)
    assert docs.rdd.getNumPartitions() < cores
    assert banded.rdd.getNumPartitions() == cores
    assert "REPARTITION_BY_NUM" in plans[1]
    # bands equal the unspread banding's
    plain = minhash_bands(docs, "text", "doc_id", CFG.num_hashes, CFG.bands,
                          CFG.shingle_k)
    assert sorted(banded.collect()) == sorted(plain.collect())

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        wide = _docs(spark, rows).repartition(cores)
        (docs, banded, _), plans = _prepared_plans(
            spark, wide, str(tmp_path / "idx2"), monkeypatch)
    finally:
        spark.conf.set(key, old)
    assert docs.rdd.getNumPartitions() >= cores
    assert "REPARTITION_BY_NUM" not in plans[1]


def test_read_committed_runs_no_job_and_keeps_stored_schema(
        spark, spark_jobs, tmp_path):
    """Index reads pass the stored schema: building the frame launches no
    schema-inference job, and the frame has exactly that schema."""
    from featureextraction_jl_spark.operators import incremental as mod

    idx = str(tmp_path / "idx")
    dedup_and_commit(spark, _docs(spark, [(0, FAM_A * 2),
                                          (1, _unique_text(1))]),
                     idx, "b1", CFG)
    committed = committed_batches(idx)
    for sub, schema in (("digests", mod._DIGESTS_SCHEMA),
                        ("bands", mod._BANDS_SCHEMA),
                        ("band_stats", mod._STATS_SCHEMA)):
        out = []
        assert spark_jobs(lambda: out.append(mod._read_committed(
            spark, idx, sub, schema, committed))) == 0, sub
        assert out[0].schema == spark.createDataFrame([], schema).schema
        assert out[0].count() > 0
