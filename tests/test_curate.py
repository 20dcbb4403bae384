"""Corpus-curation pipeline: composition equivalence, resume, chain safety.

The pipeline is pure plumbing of independently-oracled operators (q37-q41,
q48-q49 cover exact dedup, LSH pairs, CC survivors; q38-q40 pin the text
builders), so the gates here are about the PIPELINE properties: the staged,
materialized run must equal composing the operators directly in memory;
a killed run must resume to the identical corpus; a changed config or
input must invalidate downstream stages rather than mix versions.
"""

from __future__ import annotations

import os

import pytest

from jobs.curate_corpus import (
    STAGES,
    _STAGE_FNS,
    CurateConfig,
    SimulatedCrash,
    curate_corpus,
    read_curated,
)

CFG = CurateConfig(min_word_tokens=3, max_digit_frac=0.5, keep_langs=())


def _docs_path(sf_dir):
    return os.path.join(sf_dir, "documents.parquet")


def _direct(spark, sf_dir, cfg: CurateConfig):
    """The pipeline composed in memory — the very stage bodies the staged
    runner materializes, chained without parquet round-trips (the property
    under test is staging/resume plumbing, not a re-implementation)."""
    df = spark.read.parquet(_docs_path(sf_dir))
    for stage in STAGES:
        df = _STAGE_FNS[stage](df, cfg)
    return df


def _snapshot(df):
    rows = df.collect()
    return {r.doc_id: tuple(r) for r in rows}, len(rows)


def test_pipeline_equals_direct_composition(spark, sf_dir, tmp_path):
    out = str(tmp_path / "curated")
    job = curate_corpus(spark, _docs_path(sf_dir), out, CFG)
    staged, n = _snapshot(read_curated(spark, out))
    direct, n2 = _snapshot(_direct(spark, sf_dir, CFG))
    assert staged == direct and n == n2 == job["rows_final"]
    # monotone corpus shrinkage across stages, nothing degenerate
    r = job["rows_out_per_stage"]
    assert r["stats"] >= r["exact"] >= r["neardup"] >= r["final"] > 0
    assert job["stages_computed_this_run"] == list(STAGES)


def test_resume_after_crash_equals_direct(spark, sf_dir, tmp_path):
    out = str(tmp_path / "curated")
    with pytest.raises(SimulatedCrash):
        curate_corpus(spark, _docs_path(sf_dir), out, CFG, fail_after_stages=2)
    # the final stage must not be readable from a half-finished run
    with pytest.raises((FileNotFoundError, ValueError)):
        read_curated(spark, out)
    job = curate_corpus(spark, _docs_path(sf_dir), out, CFG)
    assert job["stages_resumed"] == ["stats", "exact"]
    assert job["stages_computed_this_run"] == ["neardup", "final"]
    staged, _ = _snapshot(read_curated(spark, out))
    direct, _ = _snapshot(_direct(spark, sf_dir, CFG))
    assert staged == direct


def test_noop_rerun_skips_everything(spark, sf_dir, tmp_path):
    out = str(tmp_path / "curated")
    first = curate_corpus(spark, _docs_path(sf_dir), out, CFG)
    second = curate_corpus(spark, _docs_path(sf_dir), out, CFG)
    assert second["stages_computed_this_run"] == []
    assert second["stages_resumed"] == list(STAGES)
    assert second["rows_out_per_stage"] == first["rows_out_per_stage"]


def test_final_knob_change_recomputes_only_final(spark, sf_dir, tmp_path):
    # config hashes are per stage: tuning a final-stage filter must not
    # re-pay the expensive LSH+CC stage (code-review r05 finding)
    out = str(tmp_path / "curated")
    curate_corpus(spark, _docs_path(sf_dir), out, CFG)
    stricter = CurateConfig(min_word_tokens=8, max_digit_frac=0.5,
                            keep_langs=())
    job = curate_corpus(spark, _docs_path(sf_dir), out, stricter)
    assert job["stages_computed_this_run"] == ["final"]
    assert job["stages_resumed"] == ["stats", "exact", "neardup"]
    assert job["rows_final"] <= job["rows_out_per_stage"]["neardup"]
    staged, _ = _snapshot(read_curated(spark, out))
    direct, _ = _snapshot(_direct(spark, sf_dir, stricter))
    assert staged == direct


def test_neardup_knob_change_recomputes_downstream_only(spark, sf_dir,
                                                        tmp_path):
    # an upstream knob change invalidates that stage AND everything after
    # it (manifest chain), but never the stages before it
    out = str(tmp_path / "curated")
    curate_corpus(spark, _docs_path(sf_dir), out, CFG)
    wider = CurateConfig(bands=16, num_hashes=32)
    job = curate_corpus(spark, _docs_path(sf_dir), out, wider)
    assert job["stages_computed_this_run"] == ["neardup", "final"]
    assert job["stages_resumed"] == ["stats", "exact"]
    staged, _ = _snapshot(read_curated(spark, out))
    direct, _ = _snapshot(_direct(spark, sf_dir, wider))
    assert staged == direct


def test_empty_documents_input_yields_empty_corpus(spark, tmp_path):
    # a 0-row corpus must flow through every stage (including CC, whose
    # convergence probe used to spin to max_iter on a NULL sum) and end
    # as an empty-but-valid curated output
    empty = str(tmp_path / "empty_docs")
    spark.createDataFrame([], "doc_id bigint, text string") \
        .write.parquet(empty)
    out = str(tmp_path / "curated")
    job = curate_corpus(spark, empty, out, CFG)
    assert job["rows_out_per_stage"] == {s: 0 for s in STAGES}
    assert read_curated(spark, out).count() == 0


def test_crash_between_data_and_manifest_never_reads_stale(
        spark, sf_dir, tmp_path, monkeypatch):
    # the stage manifest is deleted BEFORE the data overwrite: a kill in
    # the data-written/manifest-unwritten window must leave read_curated
    # raising, not returning new-input rows under the old run's still-
    # valid manifest chain (code-review r05 finding)
    import jobs.curate_corpus as cc
    out = str(tmp_path / "curated")
    curate_corpus(spark, _docs_path(sf_dir), out, CFG)

    other = str(tmp_path / "docs_v2")
    spark.read.parquet(_docs_path(sf_dir)).limit(20).write.parquet(other)

    real_write = cc.write_atomic

    def crash_on_manifest(path, payload):
        if os.path.basename(path) == "stage_stats.json":
            raise SimulatedCrash("killed between data and manifest write")
        return real_write(path, payload)

    monkeypatch.setattr(cc, "write_atomic", crash_on_manifest)
    with pytest.raises(SimulatedCrash):
        curate_corpus(spark, other, out, CFG)
    monkeypatch.undo()
    # stats data dir now holds v2 rows but its manifest is gone: every
    # stage read must refuse rather than serve version-mixed provenance
    for stage in STAGES:
        with pytest.raises((FileNotFoundError, ValueError)):
            read_curated(spark, out, stage=stage)
    # and a clean re-run self-heals to the new input
    job = curate_corpus(spark, other, out, CFG)
    assert job["stages_computed_this_run"] == list(STAGES)
    staged, _ = _snapshot(read_curated(spark, out))
    assert len(staged) == job["rows_final"]


def test_lang_filter_applies(spark, sf_dir, tmp_path):
    out = str(tmp_path / "curated")
    cfg = CurateConfig(min_word_tokens=1, keep_langs=("en",))
    curate_corpus(spark, _docs_path(sf_dir), out, cfg)
    langs = {r.lang_pred for r in
             read_curated(spark, out).select("lang_pred").distinct().collect()}
    assert langs <= {"en"}


def test_missing_required_column_raises(spark, sf_dir, tmp_path):
    bad = str(tmp_path / "bad_docs")
    spark.read.parquet(_docs_path(sf_dir)).select("doc_id") \
        .write.parquet(bad)
    with pytest.raises(ValueError, match="required column"):
        curate_corpus(spark, bad, str(tmp_path / "out"), CFG)


def test_read_curated_rejects_unknown_stage(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown stage"):
        read_curated(spark, str(tmp_path), stage="bogus")


def test_simhash_method_equals_direct_and_invalidates_neardup(
        spark, sf_dir, tmp_path):
    """neardup_method='simhash' routes the candidate stage through the
    pigeonhole hamming banding; switching method must recompute exactly
    neardup+final (per-stage config hash + chain), and the staged output
    must equal the direct composition with the same config."""
    out = str(tmp_path / "curated")
    curate_corpus(spark, _docs_path(sf_dir), out, CFG)
    sim = CurateConfig(neardup_method="simhash")
    job = curate_corpus(spark, _docs_path(sf_dir), out, sim)
    assert job["stages_computed_this_run"] == ["neardup", "final"]
    assert job["stages_resumed"] == ["stats", "exact"]
    staged, _ = _snapshot(read_curated(spark, out))
    direct, _ = _snapshot(_direct(spark, sf_dir, sim))
    assert staged == direct
    assert job["rows_final"] > 0


def test_unknown_neardup_method_raises_at_construction():
    # must fail BEFORE any stage is paid, i.e. at config construction
    with pytest.raises(ValueError, match="neardup_method"):
        CurateConfig(neardup_method="bogus")


@pytest.mark.parametrize("bad", [{"bands": 7}, {"max_bucket": 0}])
def test_bad_neardup_config_raises_before_any_stage(spark, sf_dir, tmp_path,
                                                    bad):
    """Banding that does not divide num_hashes, or a cap of 0, raises before
    the stats and exact stages are paid and their manifests written."""
    out = str(tmp_path / "curated")
    with pytest.raises(ValueError):
        curate_corpus(spark, _docs_path(sf_dir), out, CurateConfig(**bad))
    assert not os.path.exists(os.path.join(out, "_manifest", "stage_exact.json"))


def _write_emb_vectors(spark, emb, *, seed=0, planted=(0, 1, 2), n=30):
    """(Re)write ONLY the side embedding table with one planted near-dup
    cluster: vectors for ``planted`` ids share a base direction (cosine
    ~0.9999 pairwise); every other vector is an independent 64-dim
    Gaussian (pairwise cosine ~N(0, 1/64), nowhere near 0.95).  Kept
    separate from the docs write so the resume test can change vector
    bytes without touching the documents fingerprint."""
    import numpy as np

    rng = np.random.default_rng(seed)
    dim = 64
    base = rng.normal(size=dim)
    vecs = rng.normal(size=(n, dim))
    for i in planted:
        vecs[i] = base + 1e-3 * rng.normal(size=dim)
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id bigint, embedding array<double>") \
        .write.mode("overwrite").parquet(emb)


def _write_emb_corpus(spark, tmp_path, *, seed=0, planted=(0, 1, 2)):
    """Synthetic docs + side embedding table (see _write_emb_vectors).
    Texts are all unique so exact dedup keeps every row and any shrinkage
    at the neardup stage is attributable to the embedding method alone."""
    n = 30
    docs = str(tmp_path / "emb_docs")
    emb = str(tmp_path / "emb_vectors")
    spark.createDataFrame(
        [(i, f"unique document text number {i} with many plain words")
         for i in range(n)],
        "doc_id bigint, text string").write.mode("overwrite").parquet(docs)
    _write_emb_vectors(spark, emb, seed=seed, planted=planted, n=n)
    return docs, emb


def test_embedding_method_equals_direct_and_merges_planted(
        spark, tmp_path):
    """neardup_method='embedding' routes the candidate stage through
    hyperplane-LSH cosine pairs over the side embedding table: the staged
    run must equal the direct composition, and exactly the planted
    near-identical cluster must collapse to its min-id survivor."""
    docs, emb = _write_emb_corpus(spark, tmp_path, planted=(0, 1, 2))
    cfg = CurateConfig(neardup_method="embedding", embeddings_path=emb,
                       min_word_tokens=1)
    out = str(tmp_path / "curated")
    job = curate_corpus(spark, docs, out, cfg)
    staged, n = _snapshot(read_curated(spark, out))
    # 30 unique texts -> exact keeps 30; the one planted 3-cluster merges
    # to doc_id 0; random Gaussian pairs sit far below the 0.95 threshold
    assert job["rows_out_per_stage"]["exact"] == 30
    assert job["rows_out_per_stage"]["neardup"] == 28
    survivors = set(staged)
    assert 0 in survivors and 1 not in survivors and 2 not in survivors

    def _direct_from(path):
        df = spark.read.parquet(path)
        for stage in STAGES:
            df = _STAGE_FNS[stage](df, cfg)
        return df

    direct, n2 = _snapshot(_direct_from(docs))
    assert staged == direct and n == n2


def test_embedding_requires_embeddings_path():
    with pytest.raises(ValueError, match="embeddings_path"):
        CurateConfig(neardup_method="embedding")


def test_embeddings_byte_change_invalidates_neardup_only(spark, tmp_path):
    """Re-written vector bytes at the SAME embeddings path must recompute
    neardup+final (aux fingerprint in the stage manifest) while stats and
    exact — which never read the side table — resume; and the re-run must
    reflect the NEW vectors, not the stale pair graph."""
    docs, emb = _write_emb_corpus(spark, tmp_path, planted=(0, 1, 2))
    cfg = CurateConfig(neardup_method="embedding", embeddings_path=emb,
                       min_word_tokens=1)
    out = str(tmp_path / "curated")
    first = curate_corpus(spark, docs, out, cfg)
    assert first["rows_out_per_stage"]["neardup"] == 28

    # same path, different planted cluster -> different survivors; docs
    # parquet is NOT rewritten, so stats/exact must resume
    _write_emb_vectors(spark, emb, seed=1, planted=(5, 6))
    job = curate_corpus(spark, docs, out, cfg)
    assert job["stages_resumed"] == ["stats", "exact"]
    assert job["stages_computed_this_run"] == ["neardup", "final"]
    assert job["rows_out_per_stage"]["neardup"] == 29
    survivors = set(_snapshot(read_curated(spark, out))[0])
    assert {0, 1, 2} <= survivors and 5 in survivors and 6 not in survivors

    # unchanged bytes on a third run: everything resumes
    third = curate_corpus(spark, docs, out, cfg)
    assert third["stages_computed_this_run"] == []


def test_embedding_missing_vector_column_raises(spark, tmp_path):
    docs, emb = _write_emb_corpus(spark, tmp_path)
    bad = str(tmp_path / "bad_emb")
    spark.read.parquet(emb).select("vec_id").write.parquet(bad)
    cfg = CurateConfig(neardup_method="embedding", embeddings_path=bad,
                       min_word_tokens=1)
    with pytest.raises(ValueError, match="required column"):
        curate_corpus(spark, docs, str(tmp_path / "out"), cfg)


def test_keep_langs_cli_parsing_strips_whitespace():
    from jobs.curate_corpus import _parse_keep_langs
    assert _parse_keep_langs("en, fr") == ("en", "fr")
    assert _parse_keep_langs(" en ,fr,  de ") == ("en", "fr", "de")
    assert _parse_keep_langs("") == ()
    assert _parse_keep_langs(" , ,") == ()
