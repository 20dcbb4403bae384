"""Stage-resumable training-corpus curation pipeline (task-spec F-ops, composed).

Chains the engine's LLM-data operators into the pipeline a user would run
on a raw scraped corpus before training, end-to-end:

    stats    -> per-doc token counts + quality signals + language ID
                (functions/text.py expression builders — pure JVM narrow map)
    exact    -> byte-exact dedup (paired-xxhash64 digest, min-id survivor)
    neardup  -> candidate pairs (MinHash-LSH banding, SimHash pigeonhole
                banding, or embedding-cosine hyperplane LSH over a side
                table of per-doc vectors) -> connected components ->
                one survivor per near-dup cluster
    final    -> quality/language filters -> curated corpus

Unlike the flagship feature job (plans/checkpoint.py), whose unit of
resumption is a conv_id hash bucket (every operator there is conv_id-
partitionable), dedup stages are GLOBAL — a duplicate pair can span any
two hash buckets — so the unit of resumption here is the STAGE.  Each
stage materializes parquet + an atomic manifest; a killed run resumes at
the first stage whose manifest is missing or invalid.  Manifests chain:
stage i's manifest records the manifest hash of stage i-1, so a
recomputed upstream stage (changed input bytes or config) invalidates
everything downstream — no silent mixing of corpus versions.  Config
hashes are PER STAGE (each stage hashes only the knobs its body reads),
so tuning a final-stage filter re-runs only the cheap final stage and
never re-pays the expensive LSH+CC stage; upstream knob changes still
invalidate downstream via the manifest chain, because the config hash
is part of the manifest the next stage chains on.

Scale notes (100 TB): the stage boundaries are exactly the pipeline's
shuffle barriers, so materializing them costs no extra exchange — stats
is a narrow map (one scan, writes the text once with its signals);
exact shuffles (digest, id) only; neardup is the expensive stage
(banding self-join + iterative CC) isolated behind its own resume point,
so a crash in hour 10 of CC never re-pays the stats/exact scans; final
is a narrow filter.

Crash safety is the feature runner's protocol through the same
:class:`~featureextraction_jl_spark.manifest.Ledger`: per stage, check the
chain, remove the stage's manifest, overwrite its data, commit its
manifest last; then summarize in ``job.json``.  A crash between a stage's
data and its manifest leaves the stage without one, so
:func:`read_curated` refuses it and a re-run redoes it.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from dataclasses import asdict, dataclass
from typing import Any

if __package__ in (None, ""):
    # plain `python jobs/curate_corpus.py`: put the repo root on sys.path
    # (spark-submit users get the package via --py-files instead)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from featureextraction_jl_spark.functions.text import (
    langid_cols,
    quality_cols,
    token_count_cols,
)
from featureextraction_jl_spark.operators.dedup import (
    check_banding,
    check_max_bucket,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    near_dedup_survivors,
    simhash_pairs,
)
from featureextraction_jl_spark.manifest import (
    MANIFEST_DIR,
    Ledger,
    SimulatedCrash,
    input_fingerprint,
    read as read_manifest,
)

__all__ = ["STAGES", "CurateConfig", "SimulatedCrash", "curate_corpus",
           "read_curated"]

STAGES = ("stats", "exact", "neardup", "final")


@dataclass(frozen=True)
class CurateConfig:
    """Knobs for the curation pipeline; hashed into every stage manifest."""
    id_col: str = "doc_id"
    text_col: str = "text"
    # near-dup candidate method: "minhash" (banded Jaccard LSH),
    # "simhash" (pigeonhole hamming banding — exact for hamming <=
    # max_hamming), or "embedding" (cosine near-dup via multi-table
    # hyperplane LSH over a per-doc embedding table — requires
    # embeddings_path); max_bucket keeps the degenerate-corpus guard ON
    # for all three — this is the production path
    neardup_method: str = "minhash"
    num_hashes: int = 32
    bands: int = 8
    shingle_k: int = 5
    max_hamming: int = 3          # simhash only
    max_bucket: int | None = 1000
    # embedding method only: parquet with one vector per doc.  Joined to
    # the exact-stage survivors on (emb_id_col == id_col); docs without a
    # vector simply produce no candidate pairs (they survive near-dedup).
    embeddings_path: str | None = None
    emb_id_col: str = "vec_id"
    vec_col: str = "embedding"
    emb_threshold: float = 0.95
    emb_planes: int = 8
    emb_tables: int = 8
    # final-stage quality gates
    min_word_tokens: int = 3          # drop near-empty docs
    max_digit_frac: float = 0.5       # drop mostly-numeric docs
    keep_langs: tuple[str, ...] = ()  # () = keep every language

    def __post_init__(self):
        # fail at construction, not after stats+exact have been paid
        if self.neardup_method not in ("minhash", "simhash", "embedding"):
            raise ValueError(
                f"neardup_method must be 'minhash', 'simhash' or "
                f"'embedding', got {self.neardup_method!r}")
        if self.neardup_method == "embedding" and not self.embeddings_path:
            raise ValueError(
                "neardup_method='embedding' requires embeddings_path "
                "(parquet with one vector per doc)")
        if self.neardup_method == "minhash":
            check_banding(self.num_hashes, self.bands)
        check_max_bucket(self.max_bucket)


# Knobs each stage body actually reads — the stage's manifest hashes only
# these, so changing a final-only filter knob cannot invalidate the
# expensive neardup stage.  Downstream invalidation on upstream knob
# changes still holds: the config hash is inside the manifest whose hash
# the next stage chains on.
_STAGE_CFG_FIELDS = {
    "stats": ("id_col", "text_col"),
    "exact": ("id_col", "text_col"),
    "neardup": ("id_col", "text_col", "neardup_method",
                "num_hashes", "bands", "shingle_k", "max_hamming",
                "max_bucket", "embeddings_path", "emb_id_col", "vec_col",
                "emb_threshold", "emb_planes", "emb_tables"),
    "final": ("id_col", "text_col",
              "min_word_tokens", "max_digit_frac", "keep_langs"),
}


def _config_hash(cfg: CurateConfig, stage: str | None = None) -> str:
    d = asdict(cfg)
    if stage is not None:
        d = {k: d[k] for k in _STAGE_CFG_FIELDS[stage]}
    payload = json.dumps(d, sort_keys=True, default=list)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _manifest_hash(man: dict[str, Any]) -> str:
    return hashlib.sha256(
        json.dumps(man, sort_keys=True).encode()).hexdigest()[:16]


# ---------------------------------------------------------------------------
# Stage bodies: DataFrame -> DataFrame, all engine operators
# ---------------------------------------------------------------------------

def _stage_stats(docs: DataFrame, cfg: CurateConfig) -> DataFrame:
    return docs.select(
        cfg.id_col, cfg.text_col,
        *token_count_cols(cfg.text_col),
        *quality_cols(cfg.text_col),
        *langid_cols(cfg.text_col))


def _stage_exact(stats: DataFrame, cfg: CurateConfig) -> DataFrame:
    return exact_dedup(stats, cfg.text_col, cfg.id_col)


def _stage_neardup(exact: DataFrame, cfg: CurateConfig) -> DataFrame:
    if cfg.neardup_method == "minhash":
        pairs = minhash_lsh_pairs(
            exact, cfg.text_col, cfg.id_col, num_hashes=cfg.num_hashes,
            bands=cfg.bands, k=cfg.shingle_k, max_bucket=cfg.max_bucket)
    elif cfg.neardup_method == "simhash":
        pairs = simhash_pairs(
            exact, cfg.text_col, cfg.id_col, max_hamming=cfg.max_hamming,
            max_bucket=cfg.max_bucket)
    else:  # "embedding", the one method __post_init__ has left
        # Vectors ride a side table, not the document rows: the stats/exact
        # parquet stays text-only (no wide array column written twice) and
        # the id-equi join below is the only place vectors meet docs.  A
        # doc without a vector yields no candidate pairs — it survives.
        emb = exact.sparkSession.read.parquet(cfg.embeddings_path)
        missing = {cfg.emb_id_col, cfg.vec_col} - set(emb.columns)
        if missing:
            raise ValueError(
                f"embeddings input {cfg.embeddings_path!r} lacks required "
                f"column(s) {sorted(missing)}; has {emb.columns}")
        vecs = (exact.select(cfg.id_col)
                .join(emb.select(F.col(cfg.emb_id_col).alias(cfg.id_col),
                                 cfg.vec_col),
                      on=cfg.id_col, how="inner"))
        pairs = embedding_near_dup_pairs(
            vecs, cfg.vec_col, cfg.id_col, threshold=cfg.emb_threshold,
            n_planes=cfg.emb_planes, n_tables=cfg.emb_tables,
            max_bucket=cfg.max_bucket)
    return near_dedup_survivors(exact, pairs, cfg.id_col)


def _stage_final(neardup: DataFrame, cfg: CurateConfig) -> DataFrame:
    out = neardup.filter(F.col("n_word_tokens") >= cfg.min_word_tokens)
    # len == 0 rows were already dropped by min_word_tokens >= 1; guard the
    # ratio against NULL text (len NULL propagates -> filter drops it)
    out = out.filter(
        (F.col("n_digits") / F.greatest(F.col("len"), F.lit(1)))
        <= cfg.max_digit_frac)
    if cfg.keep_langs:
        out = out.filter(F.col("lang_pred").isin(*cfg.keep_langs))
    return out


_STAGE_FNS = {
    "stats": _stage_stats,
    "exact": _stage_exact,
    "neardup": _stage_neardup,
    "final": _stage_final,
}


# ---------------------------------------------------------------------------
# The resumable runner
# ---------------------------------------------------------------------------

def curate_corpus(
    spark: SparkSession,
    documents_path: str,
    out_dir: str,
    cfg: CurateConfig | None = None,
    fail_after_stages: int | None = None,
) -> dict[str, Any]:
    """Run (or resume) the curation pipeline; returns the job manifest.

    Re-invoking with the same input/config/out_dir skips every stage whose
    manifest chain is valid; a killed run resumes at the first incomplete
    stage.  Changed input bytes or config invalidate the chain from the
    first affected stage onward.  ``fail_after_stages`` (tests only) raises
    :class:`SimulatedCrash` in place of the stage manifest after this run's
    first ``fail_after_stages``, i.e. after that stage's data is written.
    """
    cfg = cfg or CurateConfig()
    ledger = Ledger(out_dir, fail_after_stages)
    fp = input_fingerprint(documents_path)

    upstream_hash = "<source>"
    stages_done, stages_skipped = [], []
    for i, stage in enumerate(STAGES):
        spath = ledger.path(f"stage_{stage}.json")
        data_dir = os.path.join(out_dir, f"stage={stage}")
        # The neardup stage's embeddings table is a side input: its BYTES
        # invalidate the stage as the documents' do (the config hash sees
        # only its path).  None for every other stage/method, which keeps
        # manifests without an "aux_fingerprint" key chain-valid.
        aux_fp = (input_fingerprint(cfg.embeddings_path)
                  if stage == "neardup" and cfg.neardup_method == "embedding"
                  else None)
        expect = {"input_fingerprint": fp,
                  "config_hash": _config_hash(cfg, stage),
                  "aux_fingerprint": aux_fp,
                  "upstream_manifest": upstream_hash}
        man = ledger.valid(spath, expect, data_dir)
        if man:
            upstream_hash = _manifest_hash(man)
            stages_skipped.append(stage)
            continue
        t0 = time.monotonic()
        source = (spark.read.parquet(documents_path) if i == 0
                  else spark.read.parquet(
                      os.path.join(out_dir, f"stage={STAGES[i - 1]}")))
        if i == 0:
            missing = {cfg.id_col, cfg.text_col} - set(source.columns)
            if missing:
                # fail at the contract boundary, not deep inside a stage plan
                raise ValueError(
                    f"documents input {documents_path!r} lacks required "
                    f"column(s) {sorted(missing)}; has {source.columns}")
        out = _STAGE_FNS[stage](source, cfg)
        obs = Observation(f"curate_{stage}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        ledger.invalidate(spath)
        out.write.mode("overwrite").parquet(data_dir)
        man = {"stage": stage, **expect,
               "rows_out": int(obs.get["rows"]),
               "wall_s": round(time.monotonic() - t0, 3)}
        ledger.commit(spath, man)
        upstream_hash = _manifest_hash(man)
        stages_done.append(stage)

    return ledger.summarize(
        [ledger.path(f"stage_{s}.json") for s in STAGES],
        lambda mans: {
            "input_fingerprint": fp,
            "config_hash": _config_hash(cfg),
            "stages_computed_this_run": stages_done,
            "stages_resumed": stages_skipped,
            "rows_out_per_stage": {m["stage"]: m["rows_out"] for m in mans},
            "wall_s_per_stage": {m["stage"]: m["wall_s"] for m in mans},
            "rows_final": mans[-1]["rows_out"],
        })


def read_curated(spark: SparkSession, out_dir: str,
                 stage: str = "final") -> DataFrame:
    """Read a completed stage's output, validating its manifest chain first
    (a crashed re-run over changed input must raise, not return stale or
    version-mixed rows)."""
    if stage not in STAGES:
        raise ValueError(f"unknown stage {stage!r}; expected one of {STAGES}")
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    upstream_hash = "<source>"
    for s in STAGES[:STAGES.index(stage) + 1]:
        man = read_manifest(os.path.join(mdir, f"stage_{s}.json"))
        if not man:
            raise FileNotFoundError(
                f"stage {s!r} has no readable manifest under {mdir} — "
                f"incomplete run; re-run curate_corpus to completion")
        if man.get("upstream_manifest") != upstream_hash:
            raise ValueError(
                f"stage {s!r} manifest chain broken (expected upstream "
                f"{upstream_hash}, found {man.get('upstream_manifest')}) — "
                f"a crashed re-run over changed input/config; re-run "
                f"curate_corpus to completion")
        upstream_hash = _manifest_hash(man)
    return spark.read.parquet(os.path.join(out_dir, f"stage={stage}"))


def _parse_keep_langs(raw: str) -> tuple[str, ...]:
    """'en, fr' -> ('en', 'fr'): strip whitespace so the natural comma-space
    CLI style cannot silently produce an unmatchable ' fr' token."""
    return tuple(s.strip() for s in raw.split(",") if s.strip())


def main(argv: list[str] | None = None) -> None:
    import argparse

    from featureextraction_jl_spark.session import get_spark

    ap = argparse.ArgumentParser(
        description="Stage-resumable training-corpus curation "
                    "(stats -> exact dedup -> near-dup -> quality filter)")
    ap.add_argument("--documents", required=True,
                    help="parquet dir with (doc_id, text, ...)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-word-tokens", type=int, default=3)
    ap.add_argument("--max-digit-frac", type=float, default=0.5)
    ap.add_argument("--keep-langs", default="",
                    help="comma-separated (empty = keep all)")
    ap.add_argument("--neardup-method", default="minhash",
                    choices=("minhash", "simhash", "embedding"))
    ap.add_argument("--embeddings", default=None,
                    help="parquet with one vector per doc "
                         "(required for --neardup-method embedding)")
    ap.add_argument("--emb-threshold", type=float, default=0.95)
    args = ap.parse_args(argv)
    cfg = CurateConfig(
        neardup_method=args.neardup_method,
        embeddings_path=args.embeddings,
        emb_threshold=args.emb_threshold,
        min_word_tokens=args.min_word_tokens,
        max_digit_frac=args.max_digit_frac,
        keep_langs=_parse_keep_langs(args.keep_langs))
    spark = get_spark("curate_corpus")
    job = curate_corpus(spark, args.documents, args.out, cfg)
    print(json.dumps(job, sort_keys=True))


if __name__ == "__main__":
    main()
