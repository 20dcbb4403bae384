"""Dedup / similarity operator invariants (SURVEY.md §2 group F).

Pins the round-2 scale-guard semantics:

* stop-gram pruning is a no-op when max_df doesn't bind, and strictly
  shrinks the inverted-index join when it does;
* hyperplane-LSH ANN has high recall on genuinely-near pairs (planted
  clusters, cosine >= 0.9) vs the brute-force truth;
* one-pass exploded SimHash equals an independent per-row NumPy oracle;
* portable MinHash signatures are deterministic and banding is sound
  (identical docs always collide; signature agreement tracks Jaccard).
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from featureextraction_jl_spark.operators.dedup import (
    MINHASH_P,
    carter_wegman_coefs,
    embedding_near_dup_pairs,
    minhash_bands,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    portable_gram_hash,
    simhash,
)


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


# ---------------------------------------------------------------------------
# Stop-gram pruning
# ---------------------------------------------------------------------------

def test_jaccard_pruning_noop_when_not_binding(spark, sf01_dir):
    d = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    n_docs = d.count()
    max_df = int(0.97 * n_docs)
    # the q43 premise: 97% DF is above every gram's DF on this corpus
    grams = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(
            "transform(sequence(1, greatest(length(lower(text)) - 2, 1)),"
            " i -> substring(lower(text), i, 3))"))).alias("g"))
    top_df = grams.groupBy("g").count().agg(F.max("count")).collect()[0][0]
    assert top_df <= max_df, "corpus changed: q43's max_df choice now binds"

    base = ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5,
                               max_df=None).collect()  # truly unpruned
    pruned = ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5,
                                 max_df=max_df).collect()
    key = lambda rows: {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                        for r in rows}
    assert key(base) == key(pruned)


def _bruteforce_jaccard(rows, n, max_df=None, threshold=0.0):
    """Pairwise Jaccard over character n-gram sets in plain Python: grams
    of lower(text) at every start in 1..max(len - n + 1, 1) (a shorter text
    is one gram, itself), a NULL text the single seed gram ``None`` — what
    ``shingle_hashes`` makes.  Grams in more than ``max_df`` documents are
    pruned; only pairs sharing a surviving gram are emitted."""
    def grams(t):
        if t is None:
            return {None}
        t = t.lower()
        return {t[i:i + n] for i in range(max(len(t) - n + 1, 1))}

    sets = {i: grams(t) for i, t in rows}
    if max_df is not None:
        df = {}
        for g in (g for s in sets.values() for g in s):
            df[g] = df.get(g, 0) + 1
        sets = {i: {g for g in s if df[g] <= max_df} for i, s in sets.items()}
    out = {}
    for a in sets:
        for b in sets:
            inter = len(sets[a] & sets[b])
            if a < b and inter:
                jac = inter / len(sets[a] | sets[b])
                if jac >= threshold:
                    out[(a, b)] = round(jac, 9)
    return out


def test_jaccard_matches_bruteforce_reference(spark):
    """The window-count set-size plan against an independent Python
    Jaccard over n-gram sets, unpruned and with stop-gram pruning."""
    rows = [(i, "xx" + format(i, "04d")) for i in range(20)]
    rows += [(100, "yyabcd"), (101, "yyabcd"), (102, "yyabce"), (103, None)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    for max_df in (None, 5):
        got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
               for r in ngram_jaccard_pairs(d, "text", "doc_id", n=2,
                                            threshold=0.01,
                                            max_df=max_df).collect()}
        assert got == _bruteforce_jaccard(rows, 2, max_df, 0.01), max_df


def test_jaccard_pruning_binds_on_hot_grams(spark):
    # "xx" appears in every doc (the hot gram); unique tails differentiate.
    rows = [(i, "xx" + format(i, "04d")) for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    unpruned = ngram_jaccard_pairs(d, "text", "doc_id", n=2, threshold=0.01)
    pruned = ngram_jaccard_pairs(d, "text", "doc_id", n=2, threshold=0.01,
                                 max_df=5)
    # every doc shares gram "xx" -> all 190 pairs as candidates unpruned;
    # pruning the universal gram removes those join rows entirely
    assert len(_pairs(unpruned)) == 190
    assert len(_pairs(pruned)) < 190


# ---------------------------------------------------------------------------
# ANN recall vs brute force on planted near-dup clusters
# ---------------------------------------------------------------------------

def test_ann_lsh_recall_on_planted_clusters(spark):
    rng = np.random.default_rng(123)
    dim, n_clusters, per_cluster, n_noise = 32, 12, 3, 200
    vecs, vid = [], 0
    for _ in range(n_clusters):
        base = rng.normal(size=dim)
        base /= np.linalg.norm(base)
        for _ in range(per_cluster):
            v = base + rng.normal(scale=0.03, size=dim)  # cosine ~0.99
            vecs.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(n_noise):
        vecs.append((vid, [float(x) for x in rng.normal(size=dim)]))
        vid += 1
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    got = embedding_near_dup_pairs(df, "embedding", "vec_id", threshold=0.9,
                                   n_planes=6, n_tables=8)
    found = _pairs(got)

    # brute-force truth
    X = np.stack([np.asarray(v) for _, v in vecs])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    truth = {(i, j) for i in range(len(vecs)) for j in range(i + 1, len(vecs))
             if S[i, j] >= 0.9}
    # most planted within-cluster pairs clear 0.9 (noise can push a few under)
    assert len(truth) >= 30
    recall = len(found & truth) / len(truth)
    # theory: bit-agree p ~ 0.986 at cos 0.999 => per-table ~0.92,
    # 8 tables => ~1 - 1e-9; assert a conservative floor
    assert recall >= 0.95, f"LSH recall {recall:.3f} < 0.95"
    # and everything emitted really is above the threshold
    for r in got.collect():
        assert r["cosine"] >= 0.9


def test_embedding_near_dup_default_caps_buckets(spark):
    """The library default caps buckets at 1000 like its MinHash/SimHash
    siblings and its production callers: 1001 identical vectors under the
    default arguments form one over-cap bucket per table and emit no pair,
    instead of the quadratic 500,500."""
    import inspect

    sig = inspect.signature(embedding_near_dup_pairs)
    assert sig.parameters["max_bucket"].default == 1000
    df = spark.range(1001).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(v)) for v in (1.0, -2.0, 0.5, 3.0)])
        .alias("embedding"))
    assert embedding_near_dup_pairs(df).count() == 0


def test_ann_bucket_cap_drops_degenerate_buckets(spark):
    rng = np.random.default_rng(5)
    # 50 near-identical vectors -> one mega-bucket in every table
    base = rng.normal(size=16)
    rows = [(i, [float(x) for x in base + rng.normal(scale=1e-3, size=16)])
            for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = embedding_near_dup_pairs(df, "embedding", "vec_id",
                                        threshold=0.5, n_planes=4, n_tables=2)
    assert len(_pairs(uncapped)) == 50 * 49 // 2
    capped = embedding_near_dup_pairs(df, "embedding", "vec_id",
                                      threshold=0.5, n_planes=4, n_tables=2,
                                      max_bucket=10)
    assert len(_pairs(capped)) == 0  # every bucket wider than cap
    # Mixed corpus — a mega-bucket that trips the cap PLUS small planted
    # pairs that survive it.
    planted = []
    for j in range(5):
        b = rng.normal(size=16) * (1 + j)
        for k in range(2):
            planted.append((100 + 2 * j + k,
                            [float(x) for x in b + rng.normal(scale=1e-3, size=16)]))
    mixed = spark.createDataFrame(rows + planted,
                                  "vec_id long, embedding array<double>")
    got = _pairs(embedding_near_dup_pairs(
        mixed, "embedding", "vec_id", threshold=0.5, n_planes=4,
        n_tables=2, max_bucket=10))
    assert len(got) >= 5  # the planted small-bucket pairs survive


# ---------------------------------------------------------------------------
# SimHash: one-pass exploded plan equals an independent NumPy oracle
# ---------------------------------------------------------------------------

def test_simhash_matches_numpy_oracle(spark):
    import hashlib

    texts = ["the quick brown fox", "the quick brown fix",
             "completely different words here", "ab", ""]
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"]
           for r in simhash(d, "text", "doc_id", bits=16, n=3,
                            portable=True).collect()}

    def oracle(text: str, bits: int = 16, n: int = 3) -> int:
        t = text.lower()
        upper = max(len(t) - (n - 1), 1)
        grams = list(dict.fromkeys(t[i:i + n] for i in range(upper)))
        hashes = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                  for g in grams]
        fp = 0
        for b in range(bits):
            vote = sum(1 if (h >> b) & 1 else -1 for h in hashes)
            if vote > 0:
                fp |= 1 << b
        return fp

    for i, t in enumerate(texts):
        assert got[i] == oracle(t), f"doc {i} ({t!r})"


def test_simhash_production_bits64_xxhash64_matches_oracle(spark):
    """VERDICT r03 #6: pin the PRODUCTION parameters (bits=64, xxhash64
    grams) on a planted corpus — the one-pass rewrite was value-verified
    only at the portable bits=16 setting before.  Gram hashes are read back
    from Spark's own shingle_hashes (xxhash64 is a Spark built-in); what the
    Python oracle verifies independently is the per-bit conditional-SUM
    voting and the fingerprint assembly across all 64 bits, including the
    bit-63 shiftleft that lands on Long.MIN (sign-sensitive)."""
    import random

    from featureextraction_jl_spark.operators.dedup import shingle_hashes

    rnd = random.Random(1234)
    words = [f"w{i}" for i in range(40)]
    texts = [" ".join(rnd.choices(words, k=rnd.randrange(0, 30)))
             for _ in range(200)]
    texts += [texts[0], texts[1] + " tail", "ab", ""]   # dup, near-dup, short, empty
    d = spark.createDataFrame(list(enumerate(texts)),
                              "doc_id long, text string").repartition(7)

    got = {r["doc_id"]: r["simhash"]
           for r in simhash(d, "text", "doc_id", bits=64, n=3).collect()}
    grams = {r["doc_id"]: r["h"]
             for r in d.select("doc_id",
                               shingle_hashes("text", 3).alias("h")).collect()}

    def oracle64(hashes: list[int]) -> int:
        hs = list(dict.fromkeys(hashes))   # engine array_distinct
        fp = 0
        for b in range(64):
            # Python's >> on negative ints is arithmetic, like Spark's
            # shiftright on long — bit extraction matches exactly.
            vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if vote > 0:
                fp |= 1 << b
        return fp - (1 << 64) if fp >= (1 << 63) else fp   # to signed long

    assert any(oracle64(grams[i]) < 0 for i in range(len(texts))), \
        "corpus must exercise the bit-63 / Long.MIN assembly path"
    for i in range(len(texts)):
        assert got[i] == oracle64(grams[i]), f"doc {i}"


def test_simhash_near_texts_have_close_fingerprints(spark):
    d = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "the quick brown fox jumps over the lazy cat"),
         (2, "zzz completely unrelated corpus entry qqq")],
        "doc_id long, text string")
    fp = {r["doc_id"]: r["simhash"]
          for r in simhash(d, "text", "doc_id", bits=64).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(fp[0], fp[1]) < ham(fp[0], fp[2])
    assert ham(fp[0], fp[1]) < ham(fp[1], fp[2])


# ---------------------------------------------------------------------------
# MinHash determinism + banding soundness
# ---------------------------------------------------------------------------

def test_minhash_identical_docs_always_collide(spark):
    d = spark.createDataFrame(
        [(0, "shared near duplicate document body"),
         (1, "shared near duplicate document body"),
         (2, "some altogether different text payload")],
        "doc_id long, text string")
    for portable in (False, True):
        pairs = _pairs(minhash_lsh_pairs(d, "text", "doc_id", num_hashes=16,
                                         bands=4, k=4, portable=portable))
        assert (0, 1) in pairs
        assert (0, 2) not in pairs and (1, 2) not in pairs


def test_minhash_signature_deterministic(spark):
    d = spark.createDataFrame([(0, "alpha beta gamma delta")],
                              "doc_id long, text string")
    s1 = minhash_signature(d, "text", "doc_id", 8, 4, portable=True).collect()
    s2 = minhash_signature(d, "text", "doc_id", 8, 4, portable=True).collect()
    assert s1[0]["signature"] == s2[0]["signature"]
    assert len(s1[0]["signature"]) == 8


def test_minhash_bands_validates_banding(spark):
    """Banding must split the signature evenly: 30 hashes in 8 bands would
    band only 24 of them, and 0 bands has no band width.  Both raise
    ValueError even under ``python -O``."""
    d = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    for num_hashes, bands in ((30, 8), (32, 0)):
        with pytest.raises(ValueError, match="divisor"):
            minhash_bands(d, "text", "doc_id", num_hashes, bands)


def _lambda_minhash_bands(df, num_hashes=32, bands=8, k=5, portable=False):
    """Reference banding: the array-lambda shingle formulation
    (``transform(sequence(1, n), i -> hash(substr(lower(text), i, k)))``,
    ``array_distinct``, explode) followed by the same Carter–Wegman mins
    and band keys.  Committed indexes hold band hashes made this way."""
    p = MINHASH_P
    t = F.lower(F.col("text"))
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    gram_hash = portable_gram_hash if portable else F.xxhash64
    shingles = F.transform(F.sequence(F.lit(1), n),
                           lambda i: gram_hash(t.substr(i, F.lit(k))))
    grams = df.select("doc_id",
                      F.explode(F.array_distinct(shingles)).alias("__h"))
    hh = F.abs(F.col("__h")) % F.lit(p)
    sig = grams.groupBy("doc_id").agg(
        *[F.min((hh * F.lit(a) + F.lit(b)) % F.lit(p)).alias(f"mh_{i}")
          for i, (a, b) in enumerate(carter_wegman_coefs(num_hashes))])
    sig = sig.select("doc_id", F.array(*[f"mh_{i}" for i in range(num_hashes)])
                     .alias("signature"))
    r = num_hashes // bands
    if portable:
        band_key = lambda b: F.concat_ws(
            ",", F.slice("signature", b * r + 1, r).cast("array<string>"))
    else:
        band_key = lambda b: F.xxhash64(
            F.slice("signature", b * r + 1, r).cast("string"))
    return sig.select("doc_id", F.posexplode(F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)), band_key))
        .alias("band", "band_hash"))


def test_minhash_bands_match_array_lambda_reference(spark):
    """The exploded-position gram pipeline gives band hashes identical to
    the array-lambda formulation, on both hash paths, over the edge texts:
    NULL, '', shorter than k, mixed case, 'İ' (whose lowercase is two
    chars), astral-plane characters and repeated grams, on a
    multi-partition input."""
    import random

    rnd = random.Random(7)
    words = ["alpha", "Beta", "GAMMA", "delta", "ünï", "İstanbul", "😀", "𝔘𝔫"]
    texts = [None, "", "abc", "ABCD", "MiXeD CaSe TeXt here", "İ", "İİİİİİ",
             "😀🎉 party 🎉😀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "aaaaaaaaaaaa", "abababababab"]
    texts += [" ".join(rnd.choices(words, k=rnd.randrange(1, 12)))
              for _ in range(40)]
    d = spark.createDataFrame(list(enumerate(texts)),
                              "doc_id long, text string").repartition(5)
    for portable in (False, True):
        got = sorted(minhash_bands(d, "text", "doc_id", portable=portable)
                     .collect())
        want = sorted(_lambda_minhash_bands(d, portable=portable).collect())
        assert len(got) == 8 * len(texts)
        assert got == want, portable


# ---------------------------------------------------------------------------
# Connected components / near-dedup survivors
# ---------------------------------------------------------------------------

def _cc_paths(monkeypatch):
    """Loop once per connected-components path: the default bound sends
    the tests' small graphs to the driver; a bound of -1 sends every
    input, edgeless ones included, through the Spark rounds."""
    from featureextraction_jl_spark.operators import dedup

    for bound in (dedup.DRIVER_CC_MAX_EDGES, -1):
        monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", bound)
        yield "driver" if bound >= 0 else "spark"


def test_connected_components_chain_and_isolated(spark, monkeypatch):
    from featureextraction_jl_spark.operators.dedup import (
        connected_components, near_dedup_survivors)

    for path in _cc_paths(monkeypatch):
        # chain 0-1-2-3 (diameter 3 => needs >1 propagation round), pair 10-11,
        # isolated 20
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        ids = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 10, 11, 20]],
                                    "doc_id long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pairs, ids, "doc_id").collect()}
        assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20}, path

        docs = ids.withColumn("text", F.concat(F.lit("doc"), "doc_id"))
        surv = {r["doc_id"] for r in near_dedup_survivors(docs, pairs).collect()}
        assert surv == {0, 10, 20}, path


def test_connected_components_random_graphs_vs_union_find(spark, monkeypatch):
    """Randomized F11 gate: Spark min-label CC vs an independent union-find
    oracle on random sparse graphs (isolated nodes, multi-edges, chains)."""
    import random

    from featureextraction_jl_spark.operators.dedup import connected_components

    for seed in (1, 2, 3):
        rnd = random.Random(seed)
        n = 40
        raw = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(30)]
        edges = [(a, b) for a, b in raw if a != b] or [(0, 1)]

        parent = list(range(n))

        def find(u):
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # roots only ever merge toward the smaller id, so the final root of
        # every set IS its minimum member — the engine's cluster_id contract
        expect = {u: find(u) for u in range(n)}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        for path in _cc_paths(monkeypatch):
            got = {r["doc_id"]: r["cluster_id"]
                   for r in connected_components(pairs, ids, "doc_id").collect()}
            assert got == expect, f"seed {seed}, {path} path"


def test_connected_components_caches_edges_upstream_once(spark, monkeypatch):
    """The edge frame is localCheckpoint-ed ONCE at entry (VERDICT r2 #1):
    each propagation round must NOT re-execute the upstream candidate-pair
    pipeline.  An accumulator-instrumented mapInPandas source counts
    upstream partition evaluations: the union inside connected_components
    references pairs twice, so the one eager checkpoint job evaluates the
    source exactly twice — any per-round recompute on this >=3-round chain
    would push the count to >= 6."""
    from featureextraction_jl_spark.operators.dedup import connected_components

    for path in _cc_paths(monkeypatch):
        acc = spark.sparkContext.accumulator(0)
        base = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 4)], "id_a long, id_b long").coalesce(1)

        def mark(batches):
            acc.add(1)
            yield from batches

        pairs = base.mapInPandas(mark, base.schema)

        # ids runs exactly once: on the Spark path in the eager labels
        # checkpoint (VERDICT r03 #5), not again inside round 1's first join;
        # on the driver path in the collect below, the returned frame being
        # lazy over ids.
        acc_ids = spark.sparkContext.accumulator(0)
        ids_base = spark.createDataFrame(
            [(i,) for i in range(5)], "doc_id long").coalesce(1)

        def mark_ids(batches):
            acc_ids.add(1)
            yield from batches

        ids = ids_base.mapInPandas(mark_ids, ids_base.schema)
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pairs, ids, "doc_id").collect()}
        assert got == {i: 0 for i in range(5)}, path
        assert acc.value == 2, f"{path}: upstream evaluated {acc.value}x (expected 2: one checkpoint job, union reads source twice)"
        assert acc_ids.value == 1, f"{path}: ids evaluated {acc_ids.value}x (expected 1)"


def _signed64(v: int) -> int:
    """Python int -> the signed 64-bit value Spark's long column stores."""
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def test_simhash_pairs_exact_vs_bruteforce(spark):
    """simhash_pairs must return EXACTLY the pairs whose fingerprints differ
    in <= max_hamming bits (pigeonhole banding loses nothing at
    bands >= max_hamming + 1), with the correct hamming value."""
    from featureextraction_jl_spark.operators.dedup import simhash_pairs

    base = ("the quick brown fox jumps over the lazy dog and then naps "
            "in the warm afternoon sun beside the river")
    texts = [base, base + " again", base.replace("quick", "swift"),
             "completely unrelated text about spark shuffle partitions",
             base.replace("lazy", "sleepy"), "short", base + " once more"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    fps = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    want = {}
    for i in fps:
        for j in fps:
            if i < j:
                h = bin((fps[i] ^ fps[j]) & ((1 << 64) - 1)).count("1")
                if h <= 3:
                    want[(i, j)] = h
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_pairs(df, max_hamming=3).collect()}
    assert got == want


def test_simhash_pairs_pigeonhole_adversarial_bits(spark):
    """Bit-level recall proof points: flips concentrated in ONE band, spread
    over several bands, one flip in EVERY band (the pigeonhole boundary —
    must be excluded at max_hamming = bands - 1), and a sign-bit flip
    (shiftrightunsigned, not shiftright, on the top segment)."""
    from featureextraction_jl_spark.operators.dedup import (
        simhash_pairs_from_fingerprints)

    base = 0x0F0F0F0F0F0F0F0F
    rows = [
        (0, base),
        (1, base ^ 0b111),                                  # 3 flips, band 0
        (2, base ^ (1 | (1 << 20) | (1 << 40))),            # 3 bands hit
        (3, base ^ (1 | (1 << 20) | (1 << 40) | (1 << 60))),  # ALL 4 bands
        (4, base ^ (1 << 63)),                              # sign bit only
    ]
    fps = spark.createDataFrame([(i, _signed64(v)) for i, v in rows],
                                "doc_id long, simhash long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_pairs_from_fingerprints(
               fps, max_hamming=3).collect()}
    # (0,3) has hamming 4 with one corrupted bit in EVERY band: correctly
    # absent; everything at <= 3 present with exact distances
    assert got == {(0, 1): 3, (0, 2): 3, (2, 3): 1, (0, 4): 1}


def test_simhash_pairs_validates_banding(spark):
    from featureextraction_jl_spark.operators.dedup import (
        simhash_pairs_from_fingerprints)

    fps = spark.createDataFrame([(0, 0)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs_from_fingerprints(fps, max_hamming=3, bands=3)
    with pytest.raises(ValueError, match="exceeds fingerprint bits"):
        simhash_pairs_from_fingerprints(fps, max_hamming=70)
    # bits > 64 would push segment offsets past 63, where the JVM masks
    # the shift amount (x >>> 64 == x) and high segments silently alias
    # low bits — under-recall with no error; both entry points refuse
    with pytest.raises(ValueError, match="64-bit long"):
        simhash_pairs_from_fingerprints(fps, max_hamming=3, bits=128)
    from featureextraction_jl_spark.operators.dedup import simhash
    docs = spark.createDataFrame([(0, "abcdef")], "doc_id long, text string")
    with pytest.raises(ValueError, match="64-bit long"):
        simhash(docs, bits=128)


def test_simhash_pairs_degenerate_corpus_bounded(spark):
    """Every empty/short doc fingerprints to the same value -> one bucket
    per band; the max_bucket cap must keep the self-join bounded (same
    guard class as minhash_lsh_pairs)."""
    from featureextraction_jl_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame([(i, "") for i in range(3000)],
                               "doc_id long, text string")
    assert simhash_pairs(df, max_bucket=100).count() == 0
    # and with the cap lifted at tiny scale, the pairs are all hamming 0
    tiny = spark.createDataFrame([(i, "") for i in range(4)],
                                 "doc_id long, text string")
    rows = simhash_pairs(tiny, max_bucket=None).collect()
    assert len(rows) == 6 and all(r.hamming == 0 for r in rows)


def test_simhash_pairs_compose_with_survivors(spark):
    """The pair frame feeds near_dedup_survivors like the LSH pairs do."""
    from featureextraction_jl_spark.operators.dedup import (
        near_dedup_survivors, simhash_pairs)

    base = ("the quick brown fox jumps over the lazy dog and then naps "
            "in the warm afternoon sun beside the river")
    df = spark.createDataFrame(
        [(0, base), (1, base + "."), (2, "unrelated text entirely "
                                         "about something else")],
        "doc_id long, text string")
    # trailing-dot variant measures hamming 4 from base; unrelated is ~36
    pairs = simhash_pairs(df, max_hamming=6)
    surv = {r.doc_id for r in near_dedup_survivors(df, pairs).collect()}
    assert surv == {0, 2}


def test_connected_components_empty_ids_returns_empty(spark, monkeypatch):
    """Code-review r05: a 0-row id set must converge trivially (empty
    labels frame), not spin to max_iter on a NULL convergence sum and
    raise a misleading non-convergence error."""
    from featureextraction_jl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    ids = spark.createDataFrame([], "doc_id long")
    for path in _cc_paths(monkeypatch):
        out = connected_components(pairs, ids, "doc_id")
        assert out.columns == ["doc_id", "cluster_id"], path
        assert out.count() == 0, path


def test_connected_components_non_numeric_ids_raise_clearly(spark,
                                                            monkeypatch):
    """The sum-based convergence probe is only sound for numeric-castable
    labels; non-numeric string ids must fail loudly at round 1, not fake
    convergence or exhaust max_iter."""
    from featureextraction_jl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "doc_id string")
    for _path in _cc_paths(monkeypatch):
        with pytest.raises(TypeError, match="numeric"):
            connected_components(pairs, ids, "doc_id")


def test_connected_components_raises_when_unconverged(spark, monkeypatch):
    """ADVICE r2: exiting via max_iter without a sum fixpoint must raise,
    not silently return under-merged labels."""
    from featureextraction_jl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    for _path in _cc_paths(monkeypatch):
        with pytest.raises(RuntimeError, match="fixed point"):
            connected_components(pairs, ids, "doc_id", max_iter=1)


def _cc_rounds(edges: list[tuple[int, int]], ids: list[int]) -> int:
    """Rounds connected_components runs: min-label propagation plus one
    pointer-doubling hop per round, until the label sum repeats."""
    label = {u: u for u in ids}
    prev, rounds = None, 0
    while True:
        rounds += 1
        new = dict(label)
        for a, b in edges:
            new[a] = min(new[a], label[b])
            new[b] = min(new[b], label[a])
        label = {u: new.get(lab, lab) for u, lab in new.items()}
        if sum(label.values()) == prev:
            return rounds
        prev = sum(label.values())


def test_connected_components_one_action_per_round(spark, spark_jobs,
                                                   monkeypatch):
    """The convergence probe rides each round's eager checkpoint as an
    Observation: with AQE off (so an action is one job) a chain on the
    Spark path costs the two entry checkpoints plus ONE job per round, not
    two."""
    from featureextraction_jl_spark.operators import dedup
    from featureextraction_jl_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", -1)

    n = 33
    edges = [(i, i + 1) for i in range(n - 1)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    rounds = _cc_rounds(edges, list(range(n)))
    assert rounds > 2
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out = []
        jobs = spark_jobs(lambda: out.append(
            connected_components(pairs, ids, "doc_id")))
    finally:
        spark.conf.set(key, old)
    assert jobs == 2 + rounds, (jobs, rounds)
    assert {r["cluster_id"] for r in out[0].collect()} == {0}


def test_connected_components_driver_path_two_jobs(spark, spark_jobs):
    """A small integral graph finishes on the driver: with AQE off, the
    edge checkpoint and its Arrow collect are the only jobs, whatever the
    chain's length (its round count)."""
    from featureextraction_jl_spark.operators.dedup import connected_components

    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    for n in (5, 65):
        edges = [(i, i + 1) for i in range(n - 1)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        spark.conf.set(key, "false")
        try:
            out = []
            jobs = spark_jobs(lambda: out.append(
                connected_components(pairs, ids, "doc_id")))
        finally:
            spark.conf.set(key, old)
        assert jobs == 2, (n, jobs, _cc_rounds(edges, list(range(n))))
        assert {r["cluster_id"] for r in out[0].collect()} == {0}


def _cc_result(pairs, ids, bound, **kw):
    """Rows and schema of one connected_components call with the driver
    bound set to ``bound``, or the exception type and message it raised."""
    from featureextraction_jl_spark.operators import dedup

    old = dedup.DRIVER_CC_MAX_EDGES
    dedup.DRIVER_CC_MAX_EDGES = bound
    try:
        out = dedup.connected_components(pairs, ids, "doc_id", **kw)
        rows = sorted(((r[0] is None, r[0], r[1]) for r in out.collect()),
                      key=lambda t: (t[0], t[1] or 0))
        return out.schema, rows
    except (RuntimeError, TypeError) as e:
        return type(e), str(e)
    finally:
        dedup.DRIVER_CC_MAX_EDGES = old


@pytest.mark.parametrize("edges,eschema,ids,ischema", [
    # chain, pair, isolated id
    ([(0, 1), (1, 2), (2, 3), (10, 11)], "id_a long, id_b long",
     [0, 1, 2, 3, 10, 11, 20], "doc_id long"),
    # pair-only nodes: a pair-only component minimum and a component with
    # no id at all
    ([(5, 3), (7, 8), (0, 100)], "id_a long, id_b long", [0, 5, 9],
     "doc_id long"),
    ([(0, 1)], "id_a long, id_b long", [0, 1, None, 2], "doc_id long"),
    ([(0, None), (None, 1), (1, 2)], "id_a long, id_b long",
     [0, 1, 2, None], "doc_id long"),
    ([(0, 1), (1, 2)], "id_a int, id_b int", [0, 1, 2, 3], "doc_id int"),
    ([(0, 1), (1, 2)], "id_a int, id_b int", [0, 1, 2, 3], "doc_id long"),
    ([(-5, 3), (3, -7)], "id_a long, id_b long", [-5, 3, -7, 0],
     "doc_id long"),
    ([], "id_a long, id_b long", [1, 2], "doc_id long"),
    ([], "id_a long, id_b long", [], "doc_id long"),
    ([("a", "b")], "id_a string, id_b string", ["a", "b", "c"],
     "doc_id string"),
], ids=["chain", "pair_only", "null_id", "null_endpoint", "int", "int_long",
        "negative", "edgeless", "empty", "string"])
def test_connected_components_paths_agree(spark, edges, eschema, ids,
                                          ischema):
    """The driver path and the Spark path give the same rows and schema,
    or raise the same error, at the same ``max_iter`` — NULL ids, NULL
    pair endpoints, pair-only nodes, 0-row and edgeless inputs included."""
    pairs = spark.createDataFrame(edges, eschema)
    idf = spark.createDataFrame([(i,) for i in ids], ischema)
    for max_iter in (20, 1, 0):
        assert (_cc_result(pairs, idf, 1 << 20, max_iter=max_iter)
                == _cc_result(pairs, idf, -1, max_iter=max_iter)), \
            max_iter


def test_connected_components_pair_only_nodes_are_seeded(spark, monkeypatch):
    """Every pair endpoint is a node seeded with its own id: a pair-only
    node can be its component's minimum, and a component with no id in
    ``ids`` still appears."""
    from featureextraction_jl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(5, 3), (7, 8), (0, 100)],
                                  "id_a long, id_b long")
    ids = spark.createDataFrame([(0,), (5,), (9,)], "doc_id long")
    for path in _cc_paths(monkeypatch):
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pairs, ids, "doc_id").collect()}
        assert got == {0: 0, 100: 0, 3: 3, 5: 3, 7: 7, 8: 7, 9: 9}, path


def test_simhash_null_text_and_duplicate_ids_keep_row_semantics(spark):
    """ADVICE r2: the one-pass explode+groupBy path must emit one row per
    INPUT row — fingerprint 0 for null/unhashable text, duplicate ids not
    collapsed (matching the original per-row implementation)."""
    d = spark.createDataFrame(
        [(0, None), (1, "the quick brown fox"), (1, "the quick brown fox"),
         (2, None)],
        "doc_id long, text string")
    rows = simhash(d, "text", "doc_id", bits=16).collect()
    assert len(rows) == 4
    by_id = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(r["simhash"])
    # NULL text still yields exactly one row with a deterministic constant
    # fingerprint (xxhash64 over a null gram hashes to the seed), shared by
    # every null-text doc — and duplicate ids are NOT collapsed.
    assert len(by_id[0]) == 1 and by_id[0] == by_id[2]
    assert len(by_id[1]) == 2 and by_id[1][0] == by_id[1][1] != by_id[0][0]


def test_jaccard_max_df_frac_equals_absolute_max_df(spark):
    """max_df_frac resolves the same threshold INSIDE the plan (no separate
    driver-side count action) — results must match the absolute form."""
    rows = [(i, "xx" + format(i, "04d")) for i in range(20)]
    rows += [(100, "yyab"), (101, "yyab")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    key = lambda df: {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                      for r in df.collect()}
    absolute = ngram_jaccard_pairs(d, "text", "doc_id", n=2, threshold=0.01,
                                   max_df=5)
    # 22 docs * 0.25 = 5.5 (exact in binary float): DF > 5.5 <=> DF > 5 for
    # integer DF — same cut as the absolute form, no float-boundary risk.
    frac = ngram_jaccard_pairs(d, "text", "doc_id", n=2, threshold=0.01,
                               max_df_frac=0.25)
    assert key(absolute) == key(frac)
    assert len(key(frac)) >= 1  # the yyab near-dup pair survives pruning


def test_q43_plan_build_runs_no_scan_action(spark, sf01_dir):
    """The q43 stop-gram threshold resolves INSIDE the plan: constructing the
    DataFrame must not trigger a corpus-scan action (the round-2 form ran a
    full d.count() — a task-per-partition job — at build time just to set
    the pruning constant).  spark.read.parquet itself may launch a 1-task
    footer/schema-inference job; that is metadata, not a scan, so the gate
    is on total TASKS launched during build, not on job count."""
    import __spark_entry__ as entrymod

    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("q43lazy", "q43 build probe")
    try:
        df = entrymod.queries()["q43_ngram_jaccard"](spark, sf01_dir)
    finally:
        spark.sparkContext.setJobGroup("q43done", "")
    built_jobs = tracker.getJobIdsForGroup("q43lazy")
    tasks = 0
    for jid in built_jobs:
        jinfo = tracker.getJobInfo(jid)
        for sid in (jinfo.stageIds if jinfo else []):
            sinfo = tracker.getStageInfo(sid)
            if sinfo:
                tasks += sinfo.numTasks
    assert tasks <= 2, (
        f"plan build launched a scan-sized action: jobs={sorted(built_jobs)} "
        f"total_tasks={tasks}")
    assert df.columns == ["id_a", "id_b", "jaccard"]


def test_ann_null_and_ragged_embeddings_filtered(spark):
    """NULL / ragged / null-element embeddings (routine in scraped corpora)
    are dropped up front instead of crashing np.stack mid-stage; a
    null-first-row corpus still dim-probes, and an all-null corpus returns
    an empty frame with the right schema."""
    rng = np.random.default_rng(9)
    base = rng.normal(size=8)
    good = [(i, [float(x) for x in base + rng.normal(scale=1e-3, size=8)])
            for i in range(2)]
    bad = [(11, [1.0, 2.0]),                        # wrong length
           (12, [float("nan")] * 7 + [None])]       # null element
    # null row FIRST: the dim probe must skip past it (len(None) would
    # fail on the driver) and adopt the first valid row's length
    df = spark.createDataFrame([(10, None)] + good + bad,
                               "vec_id long, embedding array<double>")
    got = embedding_near_dup_pairs(df, "embedding", "vec_id",
                                   threshold=0.9, n_planes=2, n_tables=4)
    assert _pairs(got) == {(0, 1)}
    all_null = spark.createDataFrame([(1, None), (2, None)],
                                     "vec_id long, embedding array<double>")
    empty = embedding_near_dup_pairs(all_null, "embedding", "vec_id")
    assert empty.columns == ["id_a", "id_b", "cosine"]
    assert empty.count() == 0


def test_embedding_lsh_nan_vectors_do_not_fill_bucket_zero(spark):
    """A vector with a NaN element hashes to bucket 0 of every table if it
    reaches the GEMM (NaN >= 0 is false), so a few of them can push that
    bucket over ``max_bucket`` and lose the valid pairs in it.  They are
    dropped before the hash, like NULL elements: the near-dup pair next to
    -plane (bucket 0) survives a cap of 3 beside three NaN vectors."""
    from featureextraction_jl_spark.operators.dedup import hyperplanes

    dim = 8
    plane = hyperplanes(1, 1, dim, seed=7)[0, 0]
    rng = np.random.default_rng(3)
    base = -plane / np.linalg.norm(plane)
    pair = [(i, [float(x) for x in base + rng.normal(scale=1e-3, size=dim)])
            for i in (0, 1)]
    nans = [(10 + i, [float("nan")] + [1.0] * (dim - 1)) for i in range(3)]
    df = spark.createDataFrame(pair + nans,
                               "vec_id long, embedding array<double>")
    got = embedding_near_dup_pairs(df, "embedding", "vec_id", threshold=0.9,
                                   n_planes=1, n_tables=1, max_bucket=3,
                                   dim=dim, seed=7)
    assert _pairs(got) == {(0, 1)}


def test_minhash_max_bucket_caps_degenerate_buckets(spark):
    """Degenerate texts (empty/near-empty) all share one signature, so m
    such docs put m rows in one (band, band_hash) bucket -> m^2 join rows;
    max_bucket drops those buckets while real near-dup pairs survive."""
    degenerate = [(i, "") for i in range(20)]
    real = [(100, "the quick brown fox jumps over the lazy dog"),
            (101, "the quick brown fox jumps over the lazy dogs")]
    d = spark.createDataFrame(degenerate + real, "doc_id long, text string")
    # exact LSH semantics now require opting OUT of the finite default cap
    uncapped = _pairs(minhash_lsh_pairs(d, num_hashes=16, bands=4, k=4,
                                        max_bucket=None))
    capped = _pairs(minhash_lsh_pairs(d, num_hashes=16, bands=4, k=4,
                                      max_bucket=10))
    assert (100, 101) in uncapped and len(uncapped) >= 20 * 19 // 2
    assert capped == {(100, 101)}


def test_minhash_default_caps_degenerate_corpus(spark):
    """The PRODUCTION DEFAULT must survive a degenerate corpus (VERDICT r04
    "what's wrong" #2): 10^5 empty-text docs share ONE signature, so the
    uncapped join would emit ~10^10 rows per band.  With the default finite
    max_bucket the degenerate buckets are dropped in bounded time and real
    near-dups still surface."""
    import inspect

    default = inspect.signature(minhash_lsh_pairs).parameters["max_bucket"].default
    assert default is not None and default > 0  # pin: cap ON by default
    n = 100_000
    degenerate = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("").alias("text"))
    real = spark.createDataFrame(
        [(n + 1, "the quick brown fox jumps over the lazy dog"),
         (n + 2, "the quick brown fox jumps over the lazy dogs")],
        "doc_id long, text string")
    d = degenerate.unionByName(real)
    got = _pairs(minhash_lsh_pairs(d, num_hashes=16, bands=4, k=4))
    assert got == {(n + 1, n + 2)}


def test_exact_dedup_digest_pair_not_functionally_dependent(spark):
    """ADVICE r04: xxhash64 folds children left-to-right with the running
    hash as the next seed, so d2's seed constant must be the FIRST child —
    constant-last makes d2 = XXH64(const, seed=d1), a pure function of d1
    (any d1 collision implies a d2 collision: 64-bit, not ~128-bit,
    resistance).  Pins (a) the child order of the shipped expression and
    (b) that the shipped d2 differs from the broken constant-last form."""
    from featureextraction_jl_spark.operators.dedup import (
        DEDUP_SEED_WORD,
        content_digests,
        exact_dedup,
    )

    import re

    d1, d2 = content_digests("text")
    # (a) expression-order pin: the literal is the first xxhash64 child
    # (the long literal may render with an L suffix)
    assert re.fullmatch(
        rf"Column<'xxhash64\({DEDUP_SEED_WORD}L?, text\)'>", str(d2)), str(d2)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["", "a", "ab", "the quick brown fox",
                                       "the quick brown fox!", "xyz" * 40])],
        "doc_id long, text string")
    rows = df.select(
        d1.alias("d1"), d2.alias("d2"),
        F.xxhash64(F.col("text"), F.lit(DEDUP_SEED_WORD)).alias("d2_broken"),
    ).collect()
    # (b) the shipped d2 is NOT the constant-last fold, and the pair is
    # collision-free across distinct texts
    assert all(r["d2"] != r["d2_broken"] for r in rows)
    assert len({(r["d1"], r["d2"]) for r in rows}) == len(rows)
    # end-to-end: exact_dedup still keeps min-id per identical text
    dup = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id long, text string")
    assert {r["doc_id"] for r in exact_dedup(dup).collect()} == {1, 3}


def test_connected_components_reliable_checkpoint_dir(spark, tmp_path,
                                                     monkeypatch):
    """VERDICT r04 next #4: with a checkpoint dir configured the iterative
    lineage truncation must use RELIABLE checkpoint() (executor-loss-safe on
    a real cluster) and produce output identical to the localCheckpoint
    path; checkpoint files must actually land in the dir."""
    import os

    from featureextraction_jl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 10, 11, 20]],
                                "doc_id long")
    for path in _cc_paths(monkeypatch):
        local = {r["doc_id"]: r["cluster_id"]
                 for r in connected_components(pairs, ids, "doc_id").collect()}
        sc = spark.sparkContext
        assert sc.getCheckpointDir() is None  # precondition: default is local
        sc.setCheckpointDir(str(tmp_path / path))
        try:
            rel = {r["doc_id"]: r["cluster_id"]
                   for r in connected_components(pairs, ids, "doc_id").collect()}
            assert rel == local == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10,
                                    20: 20}, path
            written = []
            for root, _dirs, files in os.walk(tmp_path / path):
                written += files
            assert written, f"{path}: no reliable checkpoint files were written"
        finally:
            # unset so later tests in the shared session stay on localCheckpoint
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.apply(None))
            assert sc.getCheckpointDir() is None


def test_ngram_default_caps_degenerate_corpus(spark):
    """The PRODUCTION DEFAULT of ngram_jaccard_pairs must survive a
    degenerate corpus (policy parity with minhash max_bucket): 5k
    empty-text docs all share the single xxhash64(NULL) gram — unguarded
    that key alone emits ~12.5M join rows (10^14 at 10^7 docs).  With the
    default max_df the stop-gram is pruned in bounded time and the real
    near-dup pair is still found."""
    n = 5000
    degenerate = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("").alias("text"))
    real = spark.createDataFrame(
        [(n + 1, "the quick brown fox jumps over the lazy dog"),
         (n + 2, "the quick brown fox jumps over the lazy dogs")],
        "doc_id long, text string")
    d = degenerate.unionByName(real)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(d, "text", "doc_id", n=3,
                                          threshold=0.5).collect()}
    assert (n + 1, n + 2) in pairs
    assert all(a == n + 1 and b == n + 2 for a, b in pairs)


def test_ngram_df_thresholds_compose(spark):
    """When max_df AND max_df_frac are both given, a gram exceeding EITHER
    is pruned — the default absolute cap must not shadow an explicit frac
    (q43 passes max_df_frac under the default max_df)."""
    docs = [(i, "xy shared") for i in range(8)] + [(100, "xy"), (101, "xy")]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    # frac binds far below the absolute cap: "xy"-grams appear in all 10
    # docs (df=10 > 0.5*10) -> pruned even though df << max_df=2000
    got = ngram_jaccard_pairs(d, "text", "doc_id", n=2, threshold=0.01,
                              max_df=2000, max_df_frac=0.5).collect()
    shared_only = {(r["id_a"], r["id_b"]) for r in got}
    assert (100, 101) not in shared_only  # all their grams were ubiquitous


def test_cap_bucket_width_rejects_nonpositive(spark):
    """max_bucket=0/negative is ambiguous and the literal filter would
    silently drop EVERY band row (near-dedup off, no error) — the library
    raises; the CLI's '0 disables' maps 0 -> None before it gets here."""
    from featureextraction_jl_spark.operators.dedup import (
        cap_bucket_width,
        embedding_near_dup_pairs,
        minhash_lsh_pairs,
    )

    df = spark.createDataFrame([(1, 0, 7)], "doc_id long, band int, band_hash long")
    with pytest.raises(ValueError, match="positive"):
        cap_bucket_width(df, ["band", "band_hash"], 0)
    with pytest.raises(ValueError, match="positive"):
        cap_bucket_width(df, ["band", "band_hash"], -1)
    docs = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    with pytest.raises(ValueError, match="positive"):
        minhash_lsh_pairs(docs, max_bucket=0)
    vecs = spark.createDataFrame([(1, [1.0, 0.0])],
                                 "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="positive"):
        embedding_near_dup_pairs(vecs, "embedding", "vec_id",
                                 max_bucket=0).collect()
    # an all-NULL corpus has no vector for the dim probe to read; the cap
    # is still rejected instead of an empty result coming back
    nulls = spark.createDataFrame([(1, None)],
                                  "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="positive"):
        embedding_near_dup_pairs(nulls, "embedding", "vec_id", max_bucket=0)


def test_exact_dedup_null_id_raises(spark):
    """A NULL id used to vanish silently (min(id) skips NULLs; the
    semi-join never matches NULL=NULL) — now the plan raises loudly at
    execution, matching connected_components' malformed-id convention."""
    from featureextraction_jl_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([(1, "keep me"), (None, "unique text")],
                               "doc_id long, text string")
    with pytest.raises(Exception, match="NULL doc_id"):
        exact_dedup(df).collect()
    ok = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, text string")
    assert exact_dedup(ok).count() == 1
