"""The two workloads: one timed pass each, its output checks, and the
traced layer ladder that splits a pass into the package's layers.

Layer self times come from prefixes of the pass's plan, each materialised
through the ``noop`` sink under its own job group: a layer's self time is
the wall of the prefix that ends with it minus that of the prefix before
it.  Eager calls (moments, PCA fit, windowed fit, connected components)
are timed directly.  Costs the traced pass itself shows (the dedup index
commits) are taken from it.

The feature job reads its chain once whole, pruned to the fit's columns,
and once per transform unit with the text payload for projection, so each
chain layer's self time is the sum of its step in both ladders.  A call
of one or a few Spark jobs runs PREFIX_REPEAT times and keeps its fastest
wall; a per-unit call of the transform ladder is N_UNITS jobs, already a
sum, and runs once.  A difference always compares two walls of the same
kind.
"""

from __future__ import annotations

import calendar
import os
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featureextraction_jl_spark.functions.moments import compute_moments
from featureextraction_jl_spark.functions.pca import fit_pca, project_udf
from featureextraction_jl_spark.functions.timeutil import epoch_seconds
from featureextraction_jl_spark.operators.asof import asof_join
from featureextraction_jl_spark.operators.backfill import forward_fill
from featureextraction_jl_spark.operators.dedup import (
    cap_bucket_width,
    connected_components,
    content_digests,
    eager_checkpoint,
    exact_dedup,
    lsh_pairs_from_bands,
    minhash_bands,
)
from featureextraction_jl_spark.operators.incremental import (
    IncrementalDedupConfig,
    anchored_survivor_ids,
    committed_batches,
    dedup_and_commit,
)
from featureextraction_jl_spark.operators.sessionize import sessionize
from featureextraction_jl_spark.plans.checkpoint import (
    MANIFEST_DIR,
    read_feature_output,
    run_features_resumable,
)
from featureextraction_jl_spark.plans.feature_job import (
    ORDER,
    FeatureJobConfig,
    assemble_raw_vector,
)
from featureextraction_jl_spark.plans.windowed_pca import (
    WindowedPCA,
    fit_windowed_pca,
    project_windowed,
)
from featureextraction_jl_spark.sources.tables import read_table, read_transcripts

import inputs
from observe import OUT_ROWS, EventLog, Tracer, noop, noop_all

OUT_COLS = ["conv_id", "turn_idx", "ts", "role", "text", "tool", "session_id"]
K = 8
WINDOW = "1 day"
#: whitened features must have mean 0 and covariance I to this tolerance
WHITE_ATOL = 1e-6
#: windows smaller than this are checked for non-NULL features only (their
#: covariance is too close to singular for a tight whitening check)
WINDOW_CHECK_MIN_ROWS = 500

#: a ladder call of one or a few Spark jobs runs this often; the fastest
#: wall counts, so a layer's self time is less often swamped by the noise
#: of the prefix before it
PREFIX_REPEAT = 2
#: transform units of the feature job: the default of both
#: ``run_features_resumable`` and ``jobs/run_features.py --units``.  The
#: transform stage (chain, projection, parquet write, manifest) runs once
#: per unit, each over a hash slice of the input.
N_UNITS = 8

FEATURE_LAYERS = ("sources.scan", "operators.asof", "operators.sessionize",
                  "operators.backfill", "plans.feature_job.assemble")


def _feature_stats(df, group_col=None) -> dict:
    """One aggregation over the feature output, per group (or overall):
    rows, digest of (conv_id, turn_idx, text), non-NULL feature vectors,
    and their mean and covariance -- plain SQL aggregates, not the
    package's moments code."""
    fv = F.col("feature_vec")
    aggs = [F.count(F.lit(1)).alias("rows"), inputs.row_digest().alias("digest"),
            F.count(fv).alias("n")]
    aggs += [F.sum(fv[i]).alias(f"s{i}") for i in range(K)]
    aggs += [F.sum(fv[i] * fv[j]).alias(f"q{i}_{j}")
             for i in range(K) for j in range(i, K)]
    rows = (df.groupBy(group_col).agg(*aggs) if group_col else df.agg(*aggs)).collect()
    out = {}
    for r in rows:
        n = r["n"]
        mean = cov = None
        if n >= 2:
            mean = np.array([r[f"s{i}"] for i in range(K)]) / n
            q = np.empty((K, K))
            for i in range(K):
                for j in range(i, K):
                    q[i, j] = q[j, i] = r[f"q{i}_{j}"]
            cov = (q - n * np.outer(mean, mean)) / (n - 1)
        out[r[group_col] if group_col else None] = {
            "rows": r["rows"], "digest": r["digest"] or 0, "n": n,
            "mean": mean, "cov": cov}
    return out


def _white(st: dict) -> bool:
    return bool(np.allclose(st["mean"], 0.0, atol=WHITE_ATOL)
                and np.allclose(st["cov"], np.eye(K), atol=WHITE_ATOL))


def _unit(df: DataFrame, unit: int) -> DataFrame:
    """One transform unit's rows, split as ``plans.checkpoint`` splits them."""
    return df.filter(F.pmod(F.xxhash64("conv_id"), F.lit(N_UNITS)) == unit)


class _Workload:
    #: warm passes a measuring run makes at least: enough that the one it
    #: reports runs on a warm JIT
    warm_passes = 1
    #: whether a pass runs Python UDFs (and so Python workers)
    python_udfs = False

    def traced_job(self, tr: Tracer, out_dir: str, passes: int) -> list[str]:
        """``passes`` passes under the job group ``job``, each into a fresh
        dir; returns the dirs in pass order."""
        dirs = [os.path.join(out_dir, f"pass{i}") for i in range(passes)]
        todo = iter(dirs)
        tr.run("job", lambda: self.run_pass(next(todo)), repeat=passes)
        return dirs


class FeatureWorkload(_Workload):
    """``feature_job``: ``run_features_resumable`` with one global model
    and N_UNITS transform units into a fresh output dir.  Its traced run
    also fits and projects one model per day (``fit_windowed_pca``,
    ``project_windowed``) on the same prepared chain, so the windowed
    layers are measured beside the global ones."""

    warm_passes = 2
    python_udfs = True

    def __init__(self, cache_dir: str, seed: int):
        self.paths = inputs.feature_paths(cache_dir, seed)
        self.cfg = FeatureJobConfig(snap_dim=inputs.SNAP_DIM, k=K)

    def open(self, spark) -> None:
        """Make the inputs readable in ``spark``: the schema-checked scans."""
        self.spark = spark
        self.t = read_transcripts(self.spark, self.paths["transcripts"])
        self.s = read_table(self.spark, self.paths["snapshots"])

    def expect(self) -> int:
        """Reference values for the checks: input rows and digest, read
        with plain Spark SQL; returns the input rows."""
        r = self.t.agg(F.count(F.lit(1)).alias("rows"),
                       inputs.row_digest().alias("digest")).collect()[0]
        self.rows_in, self.digest_in = r["rows"], r["digest"]
        return self.rows_in

    def run_pass(self, out_dir: str) -> list[float]:
        t0 = time.perf_counter()
        run_features_resumable(self.spark, self.paths["transcripts"], out_dir,
                               snapshots_path=self.paths["snapshots"],
                               cfg=self.cfg, n_units=N_UNITS)
        return [time.perf_counter() - t0]

    def _check_rows(self, stats: dict) -> list[str]:
        errors = []
        rows = sum(st["rows"] for st in stats.values())
        if rows != self.rows_in:
            errors.append(f"rows out {rows} != turns in {self.rows_in}")
        if sum(st["digest"] for st in stats.values()) != self.digest_in:
            errors.append("(conv_id, turn_idx, text) digest differs from input")
        return errors

    def check(self, out_dir: str) -> list[str]:
        stats = _feature_stats(read_feature_output(self.spark, out_dir))
        errors = self._check_rows(stats)
        st = stats[None]
        if st["n"] != st["rows"]:
            errors.append(f"{st['rows'] - st['n']} NULL feature vectors")
        elif not _white(st):
            errors.append("feature_vec is not whitened (mean 0, covariance I)")
        return errors

    def check_windowed(self, out, model: WindowedPCA) -> list[str]:
        """Per-day output: NULL features exactly in the skipped windows,
        whitened features in every window big enough to tell."""
        day = 86400.0
        stats = _feature_stats(
            out.withColumn("win", F.floor(epoch_seconds("ts") / day) * day), "win")
        errors = self._check_rows(stats)
        # model keys are naive-UTC window starts (plans.windowed_pca)
        skipped = {calendar.timegm(gk[-1].timetuple()) for gk in model.skipped}
        for w, st in stats.items():
            if w in skipped:
                if st["n"]:
                    errors.append(f"skipped window {w} has {st['n']} features")
            elif st["n"] != st["rows"]:
                errors.append(f"window {w}: {st['rows'] - st['n']} NULL features")
            elif st["n"] >= WINDOW_CHECK_MIN_ROWS and not _white(st):
                errors.append(f"window {w}: feature_vec is not whitened")
        return errors

    # ---- traced ladder --------------------------------------------------

    def probe(self) -> list[DataFrame]:
        """The queries that measure the tracing overhead: the transform
        stage's read of the chain, unit by unit."""
        s = self.s.select("conv_id", "snapshot_ts", "snap_vec")
        return [self._chain(_unit(self.t, u), _unit(s, u))[-1] for u in range(N_UNITS)]

    def _chain(self, t: DataFrame, s: DataFrame) -> list[DataFrame]:
        """The prefixes of ``build_turn_features``: the scan, then each of
        its operators in turn (FEATURE_LAYERS)."""
        cfg = self.cfg
        char_len = F.coalesce(F.length("text").cast("double"), F.lit(0.0))
        steps = [t.withColumn("char_len", char_len)]
        steps.append(asof_join(steps[-1], s, on="conv_id", left_ts="ts",
                               right_ts="snapshot_ts", direction="backward",
                               left_order=tuple(ORDER[1:])))
        steps.append(sessionize(steps[-1], gap_seconds=cfg.gap_seconds, order=ORDER))
        steps.append(forward_fill(steps[-1], "conv_id", ORDER, ["tool"]))
        steps.append(assemble_raw_vector(steps[-1], cfg))
        return steps

    def ladder(self, tr: Tracer, tmp: str, job_dir: str) -> tuple[dict, list[str]]:
        """Run the layer prefixes under job groups, shaped like the pass:
        the fit reads the whole input once, the transform reads it unit by
        unit.  Returns the values that need no event log, and the errors
        of the windowed output's check."""
        cfg = self.cfg
        s = self.s.select("conv_id", "snapshot_ts", "snap_vec")

        def build() -> tuple[list, list]:
            """The pass's plans, built on the driver: Spark analyses each
            step as it is made."""
            return (self._chain(self.t, s),
                    [self._chain(_unit(self.t, u), _unit(s, u)) for u in range(N_UNITS)])

        fit, units = tr.run("plan", build, repeat=PREFIX_REPEAT)
        last = len(fit) - 1
        for i in range(len(fit)):
            # the fit pass reads no text; its last prefix is what the global
            # and the windowed fit both read
            pruned = fit[i].select("ts", "raw_vec") if i == last else fit[i].drop("text")
            full = [steps[i] for steps in units]
            if i == 0:
                pruned, full = [pruned, s], full + [_unit(s, u) for u in range(N_UNITS)]
            else:
                pruned = [pruned]
            tr.run(f"fit{i}", noop_all, pruned, repeat=PREFIX_REPEAT)
            tr.run(f"full{i}", noop_all, full)

        prepared = fit[last]
        moments = tr.run("moments", compute_moments, prepared, "raw_vec",
                         repeat=PREFIX_REPEAT)
        model = tr.run("pca_fit", fit_pca, moments, k=cfg.k, mode=cfg.mode,
                       repeat=PREFIX_REPEAT)
        outs = [steps[last].select(*OUT_COLS,
                                   project_udf(model, "raw_vec").alias("feature_vec"))
                for steps in units]
        tr.run("project", noop_all, outs)

        def sink() -> None:
            for u, out in enumerate(outs):
                out.write.parquet(os.path.join(tmp, "sink", f"unit={u}"))

        tr.run("sink", sink)

        wmodel = tr.run("wfit", fit_windowed_pca, prepared, "raw_vec", "ts", WINDOW,
                        k=cfg.k, mode=cfg.mode, repeat=PREFIX_REPEAT)
        wouts = [project_windowed(steps[last], wmodel, "raw_vec", "ts",
                                  out_col="feature_vec").select(*OUT_COLS, "feature_vec")
                 for steps in units]
        tr.run("wproject", noop_all, wouts)
        # checked on one projection of the whole chain: one job, not N_UNITS
        wout = project_windowed(prepared, wmodel, "raw_vec", "ts", out_col="feature_vec")
        return ({"plans.windowed_pca.fit.models": len(wmodel.models)},
                self.check_windowed(wout.select(*OUT_COLS, "feature_vec"), wmodel))

    def layer_metrics(self, tr: Tracer, ev: EventLog, got: dict, job_dir: str) -> dict:
        w = tr.walls
        last = len(FEATURE_LAYERS) - 1
        m = {}
        for i, name in enumerate(FEATURE_LAYERS):
            prev = (w[f"full{i - 1}"] + w[f"fit{i - 1}"]) if i else 0.0
            m[f"{name}.self_s"] = w[f"full{i}"] + w[f"fit{i}"] - prev
        m["plans.feature_job.plan.self_s"] = w["plan"]
        m["sources.scan.rows"] = ev.input_records["fit0"] + ev.input_records["full0"]
        m["operators.asof.shuffle_write_bytes"] = (ev.shuffle_write["full1"]
                                                   + ev.shuffle_write["fit1"])
        m["functions.moments.self_s"] = w["moments"] - w[f"fit{last}"]
        m["functions.moments.partial_rows"] = ev.metric("moments", OUT_ROWS, "MapInArrow")
        m["functions.pca.fit.self_s"] = w["pca_fit"]
        m["functions.pca.project.self_s"] = w["project"] - w[f"full{last}"]
        m["functions.pca.project.py_bytes"] = ev.py_bytes("project")
        m["sources.sink.self_s"] = w["sink"] - w["project"]
        m["sources.sink.bytes"] = ev.output_bytes["sink"]
        m["plans.checkpoint.manifest.self_s"] = w["resume"]
        m["plans.checkpoint.manifest.writes"] = sum(
            name.endswith(".json")
            for _d, _s, names in os.walk(os.path.join(job_dir, MANIFEST_DIR))
            for name in names)
        m["unattributed.self_s"] = _unattributed(tr, m)
        # windowed layers: measured on the same chain, not part of the pass
        m["plans.windowed_pca.fit.self_s"] = w["wfit"] - w[f"fit{last}"]
        m["plans.windowed_pca.fit.shuffle_write_bytes"] = \
            ev.shuffle_write["wfit"] - ev.shuffle_write[f"fit{last}"]
        m["plans.windowed_pca.fit.models"] = got["plans.windowed_pca.fit.models"]
        m["plans.windowed_pca.project.self_s"] = w["wproject"] - w[f"full{last}"]
        m["plans.windowed_pca.project.py_bytes"] = ev.py_bytes("wproject")
        return m

    def traced_job(self, tr: Tracer, out_dir: str, passes: int) -> list[str]:
        """The traced passes, then a resume of the last: with every unit
        manifest valid the resume does only the checkpoint layer's work
        (input fingerprint, manifest reads and job.json)."""
        dirs = super().traced_job(tr, out_dir, passes)
        tr.run("resume", self.run_pass, dirs[-1], repeat=PREFIX_REPEAT)
        return dirs


class DedupWorkload(_Workload):
    """``incremental_dedup``: every batch through ``dedup_and_commit``
    against an index that starts empty each pass."""

    def __init__(self, cache_dir: str, seed: int):
        self.paths = inputs.document_paths(cache_dir, seed)
        self.truth = inputs.load_truth(self.paths["truth"])
        self.cfg = IncrementalDedupConfig()

    def open(self, spark) -> None:
        self.spark = spark
        self.batches = [self.spark.read.parquet(p) for p in self.paths["batches"]]

    def expect(self) -> int:
        return len(self.truth["id"])

    def run_pass(self, out_dir: str) -> list[float]:
        """Every batch step; keeps in ``commit_s`` how long each spent
        after its survivors were written, when ``dedup_and_commit`` does
        only the index commit."""
        walls, self.commit_s = [], []
        for k in range(len(self.batches)):
            written = []

            def sink(surv) -> None:
                surv.write.parquet(os.path.join(out_dir, "survivors", f"b{k}"))
                written.append(time.perf_counter())

            t0 = time.perf_counter()
            dedup_and_commit(self.spark, self.batches[k], os.path.join(out_dir, "index"),
                             f"b{k}", self.cfg, survivors_sink=sink)
            t1 = time.perf_counter()
            walls.append(t1 - t0)
            self.commit_s.append(t1 - written[0])
        return walls

    def survivors(self, out_dir: str) -> np.ndarray:
        import pyarrow.parquet as pq

        return np.concatenate([
            pq.read_table(os.path.join(out_dir, "survivors", f"b{k}"),
                          columns=["doc_id"]).column("doc_id").to_numpy()
            for k in range(len(self.batches))])

    def check(self, out_dir: str) -> list[str]:
        surv = self.survivors(out_dir)
        tr = self.truth
        errors = []
        if len(np.unique(surv)) != len(surv):
            errors.append("a document survived twice")
        kept = np.isin(tr["id"], surv)
        if not np.isin(surv, tr["id"]).all():
            errors.append("a survivor id was never offered")
        if not kept[tr["kind"] == inputs.UNIQUE].all():
            errors.append(f"{(~kept[tr['kind'] == inputs.UNIQUE]).sum()} "
                          f"unique documents dropped")
        planted = tr["group"] >= 0
        per_group = np.bincount(tr["group"][planted], weights=kept[planted])
        exact_groups = np.unique(tr["group"][tr["kind"] == inputs.EXACT])
        if (per_group[exact_groups] > 1).any():
            errors.append("two survivors from one planted exact group")
        if (per_group[np.unique(tr["group"][planted])] < 1).any():
            errors.append("a planted group kept no survivor")
        return errors

    def recall(self, out_dir: str) -> float:
        """Planted near-duplicates dropped / planted near-duplicates (all
        members of a near cluster but one)."""
        tr = self.truth
        near = np.isin(tr["kind"], [inputs.STAR, inputs.CHAIN])
        kept = np.isin(tr["id"][near], self.survivors(out_dir))
        planted = near.sum() - len(np.unique(tr["group"][near]))
        return float((~kept).sum() / planted)

    # ---- traced ladder --------------------------------------------------

    def probe(self) -> list[DataFrame]:
        """The query that measures the tracing overhead: the first batch's
        exact stage and banding."""
        cfg = self.cfg
        return [minhash_bands(exact_dedup(self.batches[0], cfg.text_col, cfg.id_col),
                              cfg.text_col, cfg.id_col, cfg.num_hashes, cfg.bands,
                              cfg.shingle_k)]

    def ladder(self, tr: Tracer, tmp: str, job_dir: str) -> tuple[dict, list[str]]:
        """Per batch, against the index the earlier batches of the traced
        pass committed, the stages ``dedup_and_commit`` composes.  The
        ladder mirrors the private ``operators.incremental._prepare`` and
        ``_survivors`` step for step, so a change to them must be made here
        too:

        * ``scan``: the batch read;
        * ``exact``: within-batch exact dedup, then the digest anti-join
          against the index (the index digests are read here);
        * ``bands``: MinHash banding;
        * ``index``: the index bands and band_stats reads;
        * candidate pairs: the capped banding's self-join plus the cross
          join against the index bands without their heavy buckets
          (counted and scored against the planted clusters, untimed);
        * ``cc``: connected components over them;
        * ``survivors``: ``anchored_survivor_ids`` and the semi-join.

        The index commit is timed on the traced pass itself, from the
        moment a batch's survivors are written.  Like the library, the
        exact stage, the banding and the cross pairs are checkpointed
        before their many consumers, outside any timed group.  Returns the
        values that need no event log, and no check errors (the batch
        outputs are checked on the traced pass)."""
        cfg, id_c, txt = self.cfg, self.cfg.id_col, self.cfg.text_col
        index = os.path.join(job_dir, "index")
        near = np.isin(self.truth["kind"], [inputs.STAR, inputs.CHAIN])
        cluster = dict(zip(self.truth["id"].tolist(),
                           np.where(near, self.truth["group"], -1).tolist()))
        commit_s = sum(self.commit_s)
        candidates = useful = 0
        for k, docs in enumerate(self.batches):
            tr.run(f"scan{k}", noop, docs, repeat=PREFIX_REPEAT)
            exact = exact_dedup(docs, txt, id_c)
            committed = [b for b in committed_batches(index) if int(b[1:]) < k]
            idx = {sub: self.spark.read.parquet(
                *[os.path.join(index, sub, f"batch={b}") for b in committed])
                for sub in ("digests", "bands", "band_stats")} if committed else {}
            if committed:
                d1, d2 = content_digests(txt)
                fresh = (exact.select(id_c, d1.alias("d1"), d2.alias("d2"))
                         .join(idx["digests"].select("d1", "d2"), on=["d1", "d2"],
                               how="left_anti")
                         .select(id_c))
                exact = exact.join(fresh, on=id_c, how="left_semi")
            tr.run(f"exact{k}", noop, exact, repeat=PREFIX_REPEAT)
            banded = minhash_bands(exact, txt, id_c, cfg.num_hashes, cfg.bands,
                                   cfg.shingle_k)
            tr.run(f"bands{k}", noop, banded, repeat=PREFIX_REPEAT)
            exact, banded = eager_checkpoint(exact), eager_checkpoint(banded)
            capped = cap_bucket_width(banded, ["band", "band_hash"], cfg.max_bucket)
            pairs = lsh_pairs_from_bands(capped, id_c, max_bucket=None)
            ids = exact.select(id_c)
            corpus_hits = None
            if committed:
                tr.run(f"index{k}", noop_all, [idx["bands"], idx["band_stats"]],
                       repeat=PREFIX_REPEAT)
                idx_bands = idx["bands"]
                if cfg.max_bucket is not None:
                    heavy = (idx["band_stats"].groupBy("band", "band_hash")
                             .agg(F.sum("n").alias("n"))
                             .filter(F.col("n") > cfg.max_bucket)
                             .select("band", "band_hash"))
                    idx_bands = idx_bands.join(F.broadcast(heavy),
                                               on=["band", "band_hash"], how="left_anti")
                cross = eager_checkpoint(
                    capped.alias("n")
                    .join(idx_bands.alias("c"), on=["band", "band_hash"])
                    .select(F.col(f"n.{id_c}").alias("id_a"),
                            F.col("c.id").alias("id_b")).distinct())
                corpus_hits = cross.select(F.col("id_b").alias(id_c)).distinct()
                pairs = pairs.unionByName(cross)
                ids = ids.unionByName(corpus_hits)
            got = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
            candidates += len(got)
            useful += sum(cluster[a] >= 0 and cluster[a] == cluster[b] for a, b in got)
            cc = tr.run(f"cc{k}", connected_components, pairs, ids, id_c,
                        repeat=PREFIX_REPEAT)
            if corpus_hits is None:     # as near_dedup_survivors keeps them
                keep = cc.filter(F.col(id_c) == F.col("cluster_id")).select(id_c)
            else:
                keep = anchored_survivor_ids(cc, corpus_hits, id_c)
            tr.run(f"survivors{k}", noop, exact.join(keep, on=id_c, how="left_semi"),
                   repeat=PREFIX_REPEAT)
        return ({"operators.dedup.lsh_pairs.candidates": candidates,
                 "operators.dedup.lsh_pairs.useful_frac": useful / max(candidates, 1),
                 "operators.incremental.commit.self_s": commit_s,
                 "operators.incremental.commit.bytes": _tree_bytes(index)}, [])

    def layer_metrics(self, tr: Tracer, ev: EventLog, got: dict, job_dir: str) -> dict:
        w = tr.walls
        n = len(self.batches)
        m = dict(got)
        m["sources.scan.self_s"] = sum(w[f"scan{k}"] for k in range(n))
        m["sources.scan.rows"] = sum(ev.input_records[f"scan{k}"] for k in range(n))
        m["operators.dedup.exact.self_s"] = sum(w[f"exact{k}"] - w[f"scan{k}"]
                                                for k in range(n))
        m["operators.dedup.minhash_bands.self_s"] = sum(w[f"bands{k}"] - w[f"exact{k}"]
                                                        for k in range(n))
        m["operators.dedup.cc.self_s"] = sum(w[f"cc{k}"] for k in range(n))
        m["operators.dedup.cc.spark_jobs"] = sum(ev.jobs[f"cc{k}"] for k in range(n))
        m["operators.dedup.cc.spark_actions"] = sum(ev.actions[f"cc{k}"] for k in range(n))
        m["operators.incremental.survivors.self_s"] = sum(w[f"survivors{k}"]
                                                          for k in range(n))
        m["operators.incremental.index_read.self_s"] = sum(
            w.get(f"index{k}", 0.0) for k in range(n))
        m["operators.incremental.recall"] = self.recall(job_dir)
        m["unattributed.self_s"] = _unattributed(tr, m)
        return m


def _unattributed(tr: Tracer, m: dict) -> float:
    """Wall of the last (warm) traced pass not covered by a layer."""
    return tr.samples["job"][-1] - sum(v for k, v in m.items() if k.endswith(".self_s"))


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, names in os.walk(path) for f in names)


def make(name: str, cache_dir: str, seed: int):
    if name == "feature_job":
        return FeatureWorkload(cache_dir, seed)
    if name == "incremental_dedup":
        return DedupWorkload(cache_dir, seed)
    raise ValueError(f"unknown workload {name!r}")
