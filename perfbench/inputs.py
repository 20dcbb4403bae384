"""Seeded benchmark inputs, cached per seed under the checkout's work dir.

Two input families:

* transcripts + snapshots for the feature workload: a seeded share of
  one pool of conversations made by the package's own distributed
  generators (``sources.fixtures``), with Zipf-skewed lengths plus one
  mega-conversation;
* documents for the incremental dedup workload, produced here with NumPy
  because the dedup checks need ground truth: planted exact-duplicate
  groups, star-shaped near-duplicate clusters and chain-shaped clusters
  (each link a small edit of the previous one, so connected components
  needs several rounds to join the ends).  Documents arrive in batches
  whose ids rise from batch to batch.

The same seed always gives the same rows.  Inputs are cached: the pool
is made once per checkout, in a Spark process of its own (or, traced,
before the session that measures), and a seed's share of it is cut with
pyarrow alone.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

#: feature fixture: one pool of conversations from the package's own
#: generators, made once per checkout; each seed takes the
#: mega-conversation, then the others in a seeded order while they fit in
#: TARGET_TURNS, so every seed gives nearly the same input size
POOL_SEED = 0
POOL_CONVS = 3000
MEGA_TURNS = 4000
MAX_TURNS = 2000
TARGET_TURNS = 60_000
SNAP_DIM = 16
MEGA_CONV = "c00000000"        # conv 0 (sources.fixtures)
#: files per input table: one per core, as the generators write them, so
#: the scans run one task per core
FILES = 4

#: document fixture shape
N_BATCHES = 2
DOCS_PER_BATCH = 500
ID_STRIDE = 1_000_000          # batch b owns ids [b * stride, (b + 1) * stride)
EXACT_GROUPS, EXACT_COPIES = 30, 3      # byte-equal copies
STAR_CLUSTERS, STAR_EDITS = 25, 3       # a base plus small edits of it
CHAIN_CLUSTERS, CHAIN_LINKS = 6, 8      # link i is an edit of link i-1
EDIT_FRAC = 0.05               # share of words replaced per edit

#: kinds recorded in the document ground truth
UNIQUE, EXACT, STAR, CHAIN = 0, 1, 2, 3


def _publish(tmp: str, final: str) -> None:
    """Move a finished input dir into place in one step, so a run killed
    while generating never leaves a partial input set behind."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise


def pool_dir(cache_dir: str) -> str:
    return os.path.join(cache_dir, f"feature-pool-s{POOL_SEED}-c{POOL_CONVS}-m{MEGA_TURNS}")


def feature_dir(cache_dir: str, seed: int) -> str:
    return os.path.join(cache_dir, f"features-s{seed}-t{TARGET_TURNS}")


def feature_paths(cache_dir: str, seed: int) -> dict:
    d = feature_dir(cache_dir, seed)
    return {"transcripts": os.path.join(d, "transcripts"),
            "snapshots": os.path.join(d, "snapshots")}


def generate_pool(spark, cache_dir: str) -> bool:
    """Write the conversation pool (transcripts and snapshots) with
    ``sources.fixtures``; False when it is already there."""
    from featureextraction_jl_spark.sources import (
        generate_snapshots,
        generate_transcripts,
    )

    final = pool_dir(cache_dir)
    if os.path.isdir(final):
        return False
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate_transcripts(spark, POOL_CONVS, seed=POOL_SEED, max_turns=MAX_TURNS,
                         mega_turns=MEGA_TURNS, partitions=FILES) \
        .write.parquet(os.path.join(tmp, "transcripts"))
    generate_snapshots(spark, POOL_CONVS, seed=POOL_SEED, dim=SNAP_DIM,
                       partitions=FILES).write.parquet(os.path.join(tmp, "snapshots"))
    _publish(tmp, final)
    return True


def make_features(cache_dir: str, seed: int) -> None:
    """Write the seed's transcripts and snapshots, taken from the pool."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    final = feature_dir(cache_dir, seed)
    if os.path.isdir(final):
        return
    pool = pool_dir(cache_dir)
    t = pq.read_table(os.path.join(pool, "transcripts"))
    counts = t.group_by("conv_id").aggregate([("conv_id", "count")]).sort_by("conv_id")
    ids = counts["conv_id"].to_numpy(zero_copy_only=False)
    turns = counts["conv_id_count"].to_numpy()
    mega = int(np.flatnonzero(ids == MEGA_CONV)[0])
    rest = np.delete(np.arange(len(ids)), mega)
    keep, total = [], 0
    for i in [mega, *np.random.default_rng([seed, 0xFEA7]).permutation(rest)]:
        if total + turns[i] <= TARGET_TURNS:
            keep.append(ids[i])
            total += turns[i]
    keep = pa.array(sorted(keep))
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for name, table in (("transcripts", t),
                        ("snapshots", pq.read_table(os.path.join(pool, "snapshots")))):
        table = table.filter(pc.is_in(table["conv_id"], value_set=keep)).sort_by("conv_id")
        # microsecond UTC instants: what Spark reads back as ``timestamp``
        table = table.cast(pa.schema([
            f.with_type(pa.timestamp("us", tz="UTC")) if pa.types.is_timestamp(f.type) else f
            for f in table.schema], metadata=table.schema.metadata))
        os.makedirs(os.path.join(tmp, name))
        step = -(-table.num_rows // FILES)
        for k in range(FILES):
            pq.write_table(table.slice(k * step, step),
                           os.path.join(tmp, name, f"part-{k:05d}.parquet"))
    _publish(tmp, final)


def row_digest():
    """Order-free digest of (conv_id, turn_idx, text): a sum of row hashes."""
    from pyspark.sql import functions as F

    return F.sum(F.xxhash64("conv_id", "turn_idx", "text").cast("decimal(38,0)"))


class _Docs:
    """Builds one seed's documents; each planted group is a list of texts."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 0xD0C5])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = self.rng.integers(3, 10, size=20000)
        # random letter strings: unrelated documents share almost no
        # character 5-grams, so every LSH candidate outside a planted
        # cluster is a genuine false positive
        self.vocab = np.array(["".join(self.rng.choice(letters, size=n))
                               for n in lens])

    def base(self) -> list[str]:
        return list(self.rng.choice(self.vocab,
                                    size=int(self.rng.integers(60, 90))))

    def edit(self, words: list[str]) -> list[str]:
        out = list(words)
        n = max(1, int(round(EDIT_FRAC * len(out))))
        for i in self.rng.choice(len(out), size=n, replace=False):
            out[i] = str(self.rng.choice(self.vocab))
        return out


def make_documents(seed: int) -> tuple[list[list[tuple[int, str]]], dict]:
    """Batches of (doc_id, text) plus ground truth keyed by doc id.

    Truth per doc: ``kind`` (UNIQUE/EXACT/STAR/CHAIN) and ``group`` (the
    planted group index, -1 for unique docs).  Members of one group are
    spread over the batches at random, so groups straddle batch borders
    and exercise the cross-batch index join.
    """
    g = _Docs(seed)
    docs: list[tuple[str, int, int]] = []      # (text, kind, group)
    group = 0
    for _ in range(EXACT_GROUPS):
        docs += [(" ".join(g.base()), EXACT, group)] * EXACT_COPIES
        group += 1
    for _ in range(STAR_CLUSTERS):
        b = g.base()
        docs.append((" ".join(b), STAR, group))
        docs += [(" ".join(g.edit(b)), STAR, group) for _ in range(STAR_EDITS)]
        group += 1
    for _ in range(CHAIN_CLUSTERS):
        link = g.base()
        for _ in range(CHAIN_LINKS):
            docs.append((" ".join(link), CHAIN, group))
            link = g.edit(link)
        group += 1
    total = N_BATCHES * DOCS_PER_BATCH
    if len(docs) > total:
        raise ValueError(f"{len(docs)} planted docs exceed {total} slots")
    docs += [(" ".join(g.base()), UNIQUE, -1) for _ in range(total - len(docs))]

    order = g.rng.permutation(total)
    batches, truth = [], {"id": [], "kind": [], "group": []}
    for b in range(N_BATCHES):
        rows = []
        for i, j in enumerate(order[b * DOCS_PER_BATCH:(b + 1) * DOCS_PER_BATCH]):
            text, kind, grp = docs[j]
            doc_id = b * ID_STRIDE + i
            rows.append((doc_id, text))
            truth["id"].append(doc_id)
            truth["kind"].append(kind)
            truth["group"].append(grp)
        batches.append(rows)
    return batches, {k: np.asarray(v, dtype=np.int64) for k, v in truth.items()}


def document_dir(cache_dir: str, seed: int) -> str:
    return os.path.join(cache_dir, f"docs-s{seed}-b{N_BATCHES}x{DOCS_PER_BATCH}")


def document_paths(cache_dir: str, seed: int) -> dict:
    d = document_dir(cache_dir, seed)
    return {"batches": [os.path.join(d, f"batch{b}.parquet") for b in range(N_BATCHES)],
            "truth": os.path.join(d, "truth.npz")}


def generate_documents(cache_dir: str, seed: int) -> None:
    """Write the seed's document batches (parquet) and ground truth."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = document_dir(cache_dir, seed)
    if os.path.isdir(final):
        return
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    batches, truth = make_documents(seed)
    for b, rows in enumerate(batches):
        ids, texts = zip(*rows)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}),
                       os.path.join(tmp, f"batch{b}.parquet"))
    np.savez(os.path.join(tmp, "truth.npz"), **truth)
    _publish(tmp, final)


def load_truth(path: str) -> dict:
    with np.load(path) as z:
        return {k: z[k] for k in z.files}
