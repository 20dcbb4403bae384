"""Deduplication operators (SURVEY.md §2 C9 + training-data-pipeline extras).

Exact and near-duplicate detection over the ``documents`` table, each scoped
for 100 TB: hashing/shuffling on content digests (never the text itself where
avoidable), band-bucketed LSH joins instead of O(n^2) pairs, and built-in
JVM expressions for the hashing hot path (xxhash64 / hash / shingles via
higher-order functions) — Python only where NumPy is genuinely needed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from featureextraction_jl_spark.functions.moments import (
    decode_vectors,
    encode_vectors,
)


def latest_row(df: DataFrame, key, order_desc) -> DataFrame:
    """Keep the newest row per key (C9): row_number over desc order == 1."""
    key = [key] if isinstance(key, str) else list(key)
    order_desc = [order_desc] if isinstance(order_desc, str) else list(order_desc)
    w = Window.partitionBy(*key).orderBy(*[F.col(c).desc() for c in order_desc])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


#: seed word distinguishing the second content digest from the first; fed
#: to xxhash64 as the FIRST child (see exact_dedup docstring).
DEDUP_SEED_WORD = 0x9E3779B9


def content_digests(text_col: str) -> tuple:
    """The (d1, d2) ~128-bit content digest pair used by :func:`exact_dedup`.

    Exposed so tests can pin the child ORDER of d2: xxhash64 folds children
    left-to-right with the running hash as the next seed, so the constant
    must come FIRST (``XXH64(text, seed=XXH64(const, seed=42))``) — with it
    last, d2 = XXH64(const, seed=d1) is a pure function of d1 and the pair
    collapses to 64-bit collision resistance (ADVICE r04).
    """
    return (F.xxhash64(F.col(text_col)),
            F.xxhash64(F.lit(DEDUP_SEED_WORD), F.col(text_col)))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: keep the min-id row per content digest.

    Shuffles on a digest, not the document body — at 100 TB the shuffle
    payload is (digest, id), then a self-semi-join retrieves survivors.
    Normalization is deliberately none: byte-exact dedup.

    The digest is TWO independently-seeded xxhash64 values (~128 bits):
    a single 64-bit digest has expected birthday collisions of
    C(n,2)/2^64 ≈ 3 at n = 10^10 docs — each one silently deleting a
    unique document — while the paired digest's expectation is ~2^-64 of
    that (≈ 10^-8 pairs at 10^11 docs).  Shuffle payload grows 8 bytes/row;
    group-by cost is unchanged.

    Argument order matters (ADVICE r04): Spark's multi-arg xxhash64 folds
    children LEFT-TO-RIGHT using the running hash as the next seed.  With
    the constant LAST, ``__d2 = XXH64(const, seed=__d1)`` is a pure
    function of ``__d1`` — any __d1 collision implies a __d2 collision and
    the pair has only 64 bits of collision resistance.  The constant goes
    FIRST so the text is hashed under a different effective seed
    (``XXH64(text, seed=XXH64(const, seed=42))``), making the two digests
    independent.  Pinned by tests/test_dedup.py (expression-order test).
    """
    d1, d2 = content_digests(text_col)
    # A NULL id is malformed input (ids must be globally unique), and it
    # fails SILENTLY here: min(id) skips NULLs and the semi-join never
    # matches NULL = NULL, so the row would just vanish from the output
    # (round-5 review).  Refuse loudly, in-plan (raise_error costs nothing
    # until a NULL id actually appears), matching connected_components'
    # malformed-id convention.
    guarded = F.when(F.col(id_col).isNotNull(), F.col(id_col)).otherwise(
        F.raise_error(F.lit(
            f"exact_dedup: NULL {id_col} — ids must be non-null and "
            f"globally unique; a NULL id row would silently vanish from "
            f"the dedup output")))
    digests = df.select(guarded.alias(id_col),
                        d1.alias("__d1"), d2.alias("__d2"))
    keep = digests.groupBy("__d1", "__d2").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


def shingle_hashes(text_col: str, k: int = 5):
    """array<long> of xxhash64 over character k-grams — pure JVM (no UDF).

    sequence + transform + substr stay inside whole-stage codegen; each
    position yields the xxhash64 of its lowercase k-gram.
    """
    t = F.lower(F.col(text_col))
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n),
                       lambda i: F.xxhash64(t.substr(i, F.lit(k))))


#: hex chars of md5 kept by the portable gram hash (60 bits: positive int64).
#: Shared with the oracle SQL builders — change in lockstep.
PORTABLE_HASH_HEX_CHARS = 15


def portable_gram_hash(gram):
    """60-bit hash any ANSI engine can reproduce: first 15 hex chars of md5.

    xxhash64 is Spark-specific; md5 is everywhere (DuckDB oracle:
    ``('0x' || substr(md5(g), 1, 15))::BIGINT``).  60 bits keeps the value
    positive in an int64.  Slower than xxhash64 — use only where
    cross-engine verification matters; the scale path stays on xxhash64.
    """
    return F.conv(F.substring(F.md5(gram), 1, PORTABLE_HASH_HEX_CHARS),
                  16, 10).cast("long")


def portable_shingle_hashes(text_col: str, k: int = 5):
    """Portable-hash twin of :func:`shingle_hashes` (md5-based, oracle-able)."""
    t = F.lower(F.col(text_col))
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n),
                       lambda i: portable_gram_hash(t.substr(i, F.lit(k))))


#: Carter–Wegman prime (2^31 - 1); operands stay below 2^31 so the int64
#: product a*x never overflows.
MINHASH_P = 2147483647


def carter_wegman_coefs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for h_i(x) = (a_i*x + b_i) mod p.

    Shared by the Spark MinHash path and the DuckDB oracle SQL builder
    (the coefficients are inlined as SQL literals there).
    """
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, MINHASH_P), rnd.randrange(0, MINHASH_P))
            for _ in range(num_hashes)]


def minhash_signature(df: DataFrame, text_col: str, id_col: str,
                      num_hashes: int = 32, k: int = 5,
                      portable: bool = False) -> DataFrame:
    """MinHash signatures: shingle -> num_hashes permutations -> min each.

    Carter–Wegman permutation family h_i(x) = (a_i*x + b_i) mod p with
    p = 2^31 - 1; operands reduced below 2^31 first so the int64 product
    never overflows.  Seeds fixed => deterministic signatures.
    Built-in expressions only — no Python worker, no lambda.

    ``portable=True`` swaps xxhash64 gram hashing for the md5-based 60-bit
    hash so any ANSI engine reproduces the signature (DuckDB oracle); the
    scale path stays on xxhash64.

    The gram hashes equal :func:`shingle_hashes`' (NULL, empty and
    shorter-than-k text keep their single ``[seed]``/truncated gram).
    Duplicate grams are not removed: a duplicate cannot change a ``min``.
    Pinned against the array-lambda formulation by tests/test_dedup.py.
    """
    p = MINHASH_P
    coefs = carter_wegman_coefs(num_hashes)

    # lower(text) once per doc, BELOW the explode: Catalyst does not
    # collapse a projection into the per-gram expression across a Generate.
    # Then one row per gram position, hashed and reduced below p in one
    # codegen'd projection (no lambda: higher-order functions run
    # interpreted), and 32 partial+final min-aggregates over that column.
    lowered = df.select(id_col, F.lower(F.col(text_col)).alias("__t"))
    n = F.greatest(F.length("__t") - F.lit(k - 1), F.lit(1))
    pos = lowered.select(id_col, "__t",
                         F.explode(F.sequence(F.lit(1), n)).alias("__i"))
    gram = F.col("__t").substr(F.col("__i"), F.lit(k))
    h = portable_gram_hash(gram) if portable else F.xxhash64(gram)
    grams = pos.select(id_col, (F.abs(h) % F.lit(p)).alias("__hh"))
    hh = F.col("__hh")
    aggs = [
        F.min((hh * F.lit(a) + F.lit(b)) % F.lit(p)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(coefs)
    ]
    sig = grams.groupBy(id_col).agg(*aggs)
    return sig.select(id_col, F.array(*[f"mh_{i}" for i in range(num_hashes)])
                      .alias("signature"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 32,
                      bands: int = 8, k: int = 5,
                      portable: bool = False,
                      max_bucket: int | None = 1000) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    signature -> ``bands`` bands of r = num_hashes/bands rows; documents
    sharing any band hash become a candidate pair via an equi self-join on
    (band_idx, band_hash) — the scale path: no O(n^2), shuffle keys are
    (band, hash) with naturally bounded bucket sizes.
    Returns distinct (id_a, id_b) with id_a < id_b.

    ``portable=True``: gram hashes via md5 and the band key as the
    comma-joined signature slice (a string) instead of xxhash64 — both
    reproducible in DuckDB, making the full candidate set oracle-checkable.

    The two self-join sides share one reused exchange of the banded frame,
    so the banding pipeline runs once without a cache (BENCH/q41_ab.json).

    ``max_bucket``: drop (band, band_hash) buckets wider than this before
    the self-join.  "Naturally bounded bucket sizes" fails on degenerate
    corpora: every NULL/empty/short-text document produces the SAME
    single-gram signature, so 10^7 such docs (routine in scraped data)
    make one bucket per band emitting ~10^14 join rows.  The width is
    carried as ``count() over (partition by band, band_hash)`` — the same
    window trick as q43/ANN; its exchange is the join's partitioning, so
    the cap costs no extra pass.  The default is a FINITE cap (VERDICT r04
    "what's wrong" #2): the degenerate-corpus quadratic is this operator's
    own documented failure mode, so the production signature must not ship
    with the guard off.  1000 is far above any genuine near-dup bucket at
    the default banding (r=4 rows/band ⇒ unrelated docs collide in a band
    w.p. ~(1/p)^4) while bounding the join at 10^6 rows/bucket.  Pass
    ``max_bucket=None`` explicitly for exact LSH candidate semantics
    (q41's oracle contract does — its corpus is far below the cap either
    way, and the exactness is what the DuckDB twin checks).
    """
    banded = minhash_bands(df, text_col, id_col, num_hashes, bands, k,
                           portable)
    return lsh_pairs_from_bands(banded, id_col, max_bucket=max_bucket)


def check_banding(num_hashes: int, bands: int) -> None:
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must be a positive divisor of num_hashes, got "
            f"num_hashes={num_hashes}, bands={bands}")


def minhash_bands(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", num_hashes: int = 32,
                  bands: int = 8, k: int = 5,
                  portable: bool = False) -> DataFrame:
    """(id, band:int, band_hash) rows — the LSH banding step of
    ``minhash_lsh_pairs``, exposed so callers that need the band keys
    themselves (the incremental dedup index in operators/incremental.py)
    share one signature pipeline instead of recomputing shingles twice.
    ``band_hash`` is a long (xxhash64 of the signature slice) on the scale
    path, a string on the ``portable`` oracle path."""
    check_banding(num_hashes, bands)
    r = num_hashes // bands
    sig = minhash_signature(df, text_col, id_col, num_hashes, k, portable)
    if portable:
        band_key = lambda b: F.concat_ws(
            ",", F.slice("signature", b * r + 1, r).cast("array<string>"))
    else:
        band_key = lambda b: F.xxhash64(F.slice("signature", b * r + 1, r).cast("string"))
    return sig.select(
        id_col,
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), band_key)
        ).alias("band", "band_hash"),
    )


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly truncate ``df``'s lineage — RELIABLE ``checkpoint()`` when
    the session has a checkpoint dir configured, else ``localCheckpoint()``.

    The ONE policy for every iterative/multi-consumer truncation point
    (connected_components' per-round labels, the incremental-dedup prepared
    stages): localCheckpoint blocks die with their executor, which on a
    real cluster invalidates the frame mid-iteration, so a configured
    checkpoint dir (HDFS/S3) switches to reliable checkpoints (VERDICT r04
    next #4).  The ``getCheckpointDir`` probe is driver-side plan state —
    no job.  Checkpoint FILES outlive the call: superseded checkpoints are
    deleted by the ContextCleaner once unreferenced (session.py pins
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``); on sessions
    built elsewhere without that conf the caller owns the checkpoint-dir
    lifecycle.  Kept as one exported helper so the policy cannot drift
    between its call sites (round-5 review).
    """
    sc = df.sparkSession.sparkContext
    return df.checkpoint(eager=True) if sc.getCheckpointDir() is not None \
        else df.localCheckpoint(eager=True)


def check_max_bucket(max_bucket: int | None) -> None:
    # 0/negative is ambiguous ('disable'? 'drop everything'?) and the
    # literal filter (__w <= 0) would silently drop EVERY band row and
    # turn near-dedup off.  The CLI's '0 disables' convention maps
    # 0 -> None before it reaches the library.
    if max_bucket is not None and max_bucket <= 0:
        raise ValueError(
            f"max_bucket must be positive, got {max_bucket} "
            f"(pass None to disable the cap)")


def cap_bucket_width(df: DataFrame, keys: list[str],
                     max_bucket: int | None) -> DataFrame:
    """Drop rows of buckets wider than ``max_bucket`` (None = no cap).

    The shared degenerate-bucket guard for every banded self-join in the
    family (MinHash band buckets, SimHash segment buckets, the incremental
    batch side): one count window over the bucket keys, filter, drop.  A
    bucket wider than the cap contributes O(width^2) join rows — the
    documented 10^7-empty-docs quadratic — so capping BEFORE the self-join
    bounds the blowup.  Kept as ONE helper so a change to the cap
    semantics lands on every banded self-join at once.
    """
    check_max_bucket(max_bucket)
    if max_bucket is None:
        return df
    wb = Window.partitionBy(*keys)
    return (df.withColumn("__w", F.count(F.lit(1)).over(wb))
            .filter(F.col("__w") <= max_bucket)
            .drop("__w"))


def lsh_pairs_from_bands(banded: DataFrame, id_col: str = "doc_id",
                         max_bucket: int | None = 1000) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs from ``minhash_bands`` rows
    via the (band, band_hash) equi self-join; ``max_bucket`` as documented
    on ``minhash_lsh_pairs``."""
    banded = cap_bucket_width(banded, ["band", "band_hash"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "band_hash"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        max_df: int | None = 2000,
                        max_df_frac: float | None = None) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share at least one n-gram.

    Inverted-index join on n-gram hash (|intersection| via groupBy count),
    Jaccard = inter / (|A| + |B| - inter).  Shuffles (ngram_hash, id) — the
    standard scalable set-similarity plan.  Set sizes ride on the gram frame
    as ``count() over (partition by id)``, so scan -> shingle -> explode
    runs once instead of again for a separate size aggregate
    (BENCH/q43_ab.json).

    ``max_df``: stop-gram pruning, the guard against the quadratic hot-key
    blowup at scale — a gram shared by m documents emits m^2 join rows, and
    ubiquitous grams ("the") appear in nearly every document.  Grams with
    document frequency > max_df are dropped from BOTH the inverted index and
    the set sizes (Jaccard is then exact over the pruned gram space).  The
    frequent-gram set is tiny by construction (heavy hitters only), so the
    exclusion is a broadcast anti-join — no extra full shuffle.  The DEFAULT
    is a finite cap (2000 — the policy minhash_lsh_pairs' max_bucket set:
    the degenerate-corpus quadratic must not ship with the guard off).
    10^7 NULL/empty-text docs all share the single xxhash64(NULL) gram —
    unguarded, that one inverted-index key emits ~10^14 join rows.  2000 is
    inert on healthy small corpora (DF can't exceed corpus size) and bounds
    any key at ~4*10^6 join rows; pass ``max_df=None`` (with no frac) for
    exact unpruned semantics.  When BOTH thresholds are given they compose
    (prune if either is exceeded), so q43's explicit 10% frac still binds
    under the default absolute cap.

    ``max_df_frac``: same pruning with the threshold expressed as a fraction
    of the corpus size, resolved INSIDE the plan (a count(1) aggregate
    cross-joined onto the tiny per-gram DF frame) — no separate driver-side
    ``df.count()`` action scanning the corpus twice just to set a constant.
    """
    grams = df.select(
        id_col,
        F.explode(F.array_distinct(shingle_hashes(text_col, n))).alias("g"),
    )
    if max_df is not None or max_df_frac is not None:
        gram_df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
        # The two thresholds COMPOSE (prune grams exceeding EITHER): with a
        # finite max_df default, an explicit max_df_frac (q43) must still
        # bind — an either/or here would silently shadow the caller's frac
        # behind the default absolute cap.
        cond = None
        if max_df is not None:
            cond = F.col("__df") > max_df
        if max_df_frac is not None:
            # count(1) over a column-pruned scan; broadcast onto the tiny
            # gram-DF frame so the threshold is part of this one plan, not
            # a separate driver-side count action.
            ndocs = df.agg(F.count(F.lit(1)).alias("__nd"))
            gram_df = gram_df.crossJoin(F.broadcast(ndocs))
            frac_cond = (F.col("__df") >
                         F.col("__nd") * F.lit(float(max_df_frac)))
            cond = frac_cond if cond is None else (cond | frac_cond)
        frequent = gram_df.filter(cond).select("g")
        grams = grams.join(F.broadcast(frequent), on="g", how="left_anti")
    gsz = grams.withColumn(
        "__sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    a, b = gsz.alias("a"), gsz.alias("b")
    scored = (
        a.join(b, on="g")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"),
             F.min("a.__sz").alias("sz_a"),   # constant per id
             F.min("b.__sz").alias("sz_b"))
    )
    return (
        scored
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64, n: int = 3, portable: bool = False) -> DataFrame:
    """64-bit SimHash fingerprint per document, JVM-side.

    Per bit b: sum over n-gram hashes of sign(bit b of hash); fingerprint
    bit = 1 iff sum > 0.  aggregate() over the shingle array — no UDF.
    ``portable=True`` swaps xxhash64 for the md5-based 60-bit hash so the
    result is reproducible in any SQL engine (DuckDB oracle-checkable).
    """
    if bits > 64:
        # gram hashes and the fingerprint are 64-bit longs; bit positions
        # past 63 hit the JVM's shift-amount masking and silently alias
        # low bits (same guard as simhash_pairs_from_fingerprints)
        raise ValueError(f"bits={bits} exceeds the 64-bit long fingerprint")
    # One pass over the grams: explode distinct gram hashes once, then the
    # per-bit votes are ``bits`` conditional SUM aggregates in a single
    # groupBy (partial+final, map-side combined).  The previous form ran
    # F.aggregate over the gram array once per bit — ``bits`` full passes
    # per row, the same expression-tree blowup class measured at 32x cost
    # in MinHash.  Measured at bits=64 on sf0.1 (5000 docs, local[8]):
    # 12.4s one-pass vs 275.9s array-fold — 22x.  Integer votes => the
    # exploded sum is exactly equal to the old array-fold sum.
    mk = portable_shingle_hashes if portable else shingle_hashes
    grams = df.select(id_col,
                      F.explode(F.array_distinct(mk(text_col, n))).alias("__h"))
    aggs = []
    for b in range(bits):
        bit = F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)))
                    .alias(f"__v{b}"))
    votes = grams.groupBy(id_col).agg(*aggs)

    # Distinct powers of two never carry, so summing set bits is exact
    # (bit 63 lands on Long.MIN via shiftleft, still no overflow).
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"__v{b}") > 0,
                         F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
    fps = votes.select(id_col, fp.alias("simhash"))
    # Row-semantics guard: the explode+groupBy would silently drop rows whose
    # shingle hash array is NULL (null/unhashable text) and collapse
    # duplicate ids to one row.  Left-join the fingerprints back onto the
    # input id column so the output has exactly one row per INPUT row, with
    # fingerprint 0 for unhashable text — matching the per-row semantics of
    # the pre-one-pass implementation.
    return (df.select(id_col).join(fps, on=id_col, how="left")
            .select(id_col, F.coalesce(F.col("simhash"),
                                       F.lit(0).cast("long")).alias("simhash")))


def simhash_pairs_from_fingerprints(fps: DataFrame, id_col: str = "doc_id",
                                    fp_col: str = "simhash",
                                    max_hamming: int = 3,
                                    bands: int | None = None, bits: int = 64,
                                    max_bucket: int | None = 1000
                                    ) -> DataFrame:
    """Pairs of ids whose ``bits``-bit fingerprints differ in <= max_hamming
    bits — EXACT for that predicate, never O(n^2).

    Pigeonhole banding: split the fingerprint into ``bands`` contiguous bit
    segments; a pair with hamming distance h has at most h corrupted
    segments, so with ``bands >= max_hamming + 1`` (the default, and a hard
    requirement) every qualifying pair shares at least one UNCHANGED segment
    and survives the banded equi self-join on (band_idx, segment_value).
    Candidates are then verified with ``bit_count(xor)`` — all JVM-side,
    no UDF anywhere.  Returns distinct (id_a, id_b, hamming), id_a < id_b.

    Scale shape (100 TB): the only shuffle keys are (band, segment) — the
    same bounded-bucket self-join as ``minhash_lsh_pairs``, with the same
    ``max_bucket`` degenerate-corpus guard (every empty/near-empty doc
    fingerprints to the SAME value, so one bucket per band would otherwise
    emit ~n^2 join rows; dropping over-wide buckets via a window count on
    the join's own partitioning costs no extra exchange).  Nothing is
    cached, as in ``minhash_lsh_pairs`` (BENCH/q41_ab.json); persist ``fps``
    yourself before calling if the fingerprint pass dominates at your scale.
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if bands is None:
        bands = max_hamming + 1
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} cannot guarantee recall at max_hamming="
            f"{max_hamming}: pigeonhole needs bands >= max_hamming + 1 "
            f"(a pair may corrupt one bit in every band otherwise)")
    if bits > 64:
        # fingerprints are 64-bit longs: segment offsets past 63 hit the
        # JVM's shift-amount masking (x >>> 64 == x), so high "segments"
        # would silently alias the LOW bits and the pigeonhole recall
        # guarantee would break without any error
        raise ValueError(
            f"bits={bits} exceeds the 64-bit long fingerprint; use "
            f"multiple fingerprint columns for wider SimHash")
    if bands > bits:
        raise ValueError(f"bands={bands} exceeds fingerprint bits={bits}")
    # contiguous segments, widths differing by at most 1 when bands does
    # not divide bits — pigeonhole holds for ANY partition into segments
    segs, off = [], 0
    base, extra = divmod(bits, bands)
    for i in range(bands):
        w = base + (1 if i < extra else 0)
        if w >= 64:
            # single full-width band: the segment IS the fingerprint
            # ((1 << 64) - 1 does not fit a long mask)
            val = F.col(fp_col)
        else:
            val = F.shiftrightunsigned(F.col(fp_col), off) \
                .bitwiseAND(F.lit((1 << w) - 1))
        segs.append(F.struct(F.lit(i).alias("band"),
                             val.alias("band_val")))
        off += w
    banded = (fps.select(id_col, fp_col, F.explode(F.array(*segs)).alias("s"))
              .select(id_col, fp_col, "s.band", "s.band_val"))
    banded = cap_bucket_width(banded, ["band", "band_val"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col(f"a.{fp_col}").bitwiseXOR(F.col(f"b.{fp_col}")))
    return (a.join(b, on=["band", "band_val"], how="inner")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  bands: int | None = None, bits: int = 64, n: int = 3,
                  max_bucket: int | None = 1000) -> DataFrame:
    """SimHash near-dup pairs over raw text (task-spec SimHash dedup):
    fingerprint (``simhash``, one pass, JVM-side) -> pigeonhole-banded
    hamming join (``simhash_pairs_from_fingerprints``).  Duplicate input
    ids collapse to one fingerprint row (pair semantics are id-based,
    matching ``minhash_lsh_pairs``); the result composes directly with
    ``near_dedup_survivors`` / ``connected_components``."""
    fps = simhash(df, text_col, id_col, bits=bits, n=n).distinct()
    return simhash_pairs_from_fingerprints(
        fps, id_col, "simhash", max_hamming=max_hamming, bands=bands,
        bits=bits, max_bucket=max_bucket)


#: Edge rows (each pair counted in both directions) up to which
#: connected_components finishes on the driver: the NumPy arrays of a graph
#: this size stay around 16 MB.  Larger graphs run the rounds in Spark.
DRIVER_CC_MAX_EDGES = 1 << 20


def connected_components(pairs: DataFrame, ids: DataFrame,
                         id_col: str = "doc_id",
                         left: str = "id_a", right: str = "id_b",
                         max_iter: int = 20) -> DataFrame:
    """Near-dup clusters: connected components by iterative min-label
    propagation over candidate pairs (the step that turns pairwise near-dup
    hits into dedup groups).

    The nodes are the ids plus every pair endpoint, each seeded with its
    own id; cluster_id = the minimum member id of each component, and
    isolated ids cluster with themselves.  Each round is (a) one
    neighbor-propagation min-aggregate and (b) one pointer-doubling
    shortcut ``label(u) := label(label(u))`` — the shortcut halves path
    lengths every round, so convergence is O(log diameter) rounds, not
    O(diameter) (a plain-propagation variant failed to converge in 20
    rounds on a real 235-doc band-collision component whose bucket-overlap
    graph is chain-like).  Labels only ever decrease, so an unchanged label
    sum <=> fixed point: the loop stops at the first round whose sum
    repeats the previous round's.  If that never happens within
    ``max_iter`` rounds the labels may still be mid-propagation, so it
    raises rather than silently returning a wrong (under-merged)
    clustering.

    ``edges`` (both directions of every pair) is eagerly checkpointed ONCE
    at entry, with an ``Observation`` counting its rows and its rows with a
    NULL endpoint.  Where the rounds run depends on that count:

    * **Driver** — integral ids, no NULL endpoint and at most
      ``DRIVER_CC_MAX_EDGES`` edge rows (every batch of the incremental
      dedup path).  The edges come back in one Arrow collect, the same
      rounds run vectorized in NumPy (``np.minimum.at``, then
      ``lab = lab[lab]``), and the same round count decides convergence.
      The result is ``(ids ∪ edge nodes).distinct()`` left-joined to the
      (node, label) rows of the nodes whose label moved — a frame that is
      still LAZY over ``ids``: each action on it re-reads ``ids``.  Two
      Spark jobs whatever the graph's depth (one with no edges).  Small
      partial results are finished in one place instead of being shuffled
      every round, as DS2 (ICDE 2021) does for decomposable aggregates.
    * **Spark** — everything else.  The seed labels are checkpointed, then
      every round is one eager checkpoint whose ``Observation`` carries the
      convergence probe (the decimal label sum, the row count and the
      non-numeric-label count), so a round is ONE Spark action.
      Non-numeric labels raise ``TypeError``: NULL casts would drop out of
      the sum and could fake convergence.

    Both paths return the same rows and schema for every input, NULL ids
    and NULL pair endpoints included (test-pinned in tests/test_dedup.py,
    with the bound forced below 0 for the Spark path).  Checkpoints follow
    :func:`eager_checkpoint`'s reliable-vs-local policy; checkpointing
    ``edges`` keeps the upstream candidate-pair pipeline (shingle ->
    MinHash signature -> banding -> self-join) from re-executing per round
    or per consumer (pinned: it executes exactly once).
    """
    _chk = eager_checkpoint
    edges = pairs.select(F.col(left).alias("u"), F.col(right).alias("v")).union(
        pairs.select(F.col(right).alias("u"), F.col(left).alias("v")))
    eobs = Observation()
    edges = _chk(edges.observe(
        eobs, F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("u").isNull() | F.col("v").isNull(), 1))
        .alias("nulls")))
    nodes = (ids.select(F.col(id_col).alias("u"))
             .union(edges.select("u")).distinct())
    seen = eobs.get
    if (seen["n"] <= DRIVER_CC_MAX_EDGES and seen["nulls"] == 0
            and isinstance(ids.schema[id_col].dataType, IntegralType)
            and isinstance(edges.schema["u"].dataType, IntegralType)):
        labels = _driver_cc_labels(edges, seen["n"], nodes, max_iter)
    else:
        labels = _spark_cc_labels(edges, nodes, id_col, max_iter)
    return labels.select(F.col("u").alias(id_col),
                         F.col("label").alias("cluster_id"))


def _unconverged(max_iter: int) -> RuntimeError:
    return RuntimeError(
        f"connected_components: label sum did not reach a fixed point "
        f"within max_iter={max_iter} rounds — labels would be "
        f"under-merged; raise max_iter (components this deep after "
        f"pointer doubling imply diameter ~2^{max_iter})")


def _driver_cc_labels(edges: DataFrame, n_edges: int, nodes: DataFrame,
                      max_iter: int) -> DataFrame:
    """The Spark rounds of :func:`_spark_cc_labels` on the driver, over the
    edge nodes in sorted dense-index space (order-preserving, so the min
    labels agree).  Nodes outside ``edges`` keep their own label every
    round, so they never change whether a round's label sum repeats."""
    if n_edges:
        tbl = edges.toArrow()
        u = tbl.column("u").to_numpy().astype(np.int64, copy=False)
        v = tbl.column("v").to_numpy().astype(np.int64, copy=False)
    else:
        u = v = np.zeros(0, np.int64)
    verts, ui = np.unique(u, return_inverse=True)
    vi = np.searchsorted(verts, v)
    lab = np.arange(len(verts))
    converged = False
    for r in range(max_iter):
        if not len(verts):
            # no edges: round 1 settles every label, and the Spark loop
            # stops there only on an empty node set (its 0-row probe);
            # otherwise round 2 repeats round 1's sum
            converged = max_iter > 1 or nodes.isEmpty()
            break
        new = lab.copy()
        np.minimum.at(new, vi, lab[ui])
        new = new[new]                      # pointer doubling
        if r and np.array_equal(new, lab):
            converged = True
            break
        lab = new
    if not converged:
        raise _unconverged(max_iter)
    moved = lab != np.arange(len(verts))
    t = nodes.schema["u"].dataType
    lmap = (nodes.sparkSession.createDataFrame(pa.table(
                {"__n": verts[moved], "__l": verts[lab[moved]]}))
            .select(F.col("__n").cast(t), F.col("__l").cast(t)))
    # CASE rather than coalesce: the label column is nullable on both paths
    return (nodes.join(lmap, nodes["u"] == lmap["__n"], "left")
            .select("u", F.when(F.col("__l").isNotNull(), F.col("__l"))
                    .otherwise(F.col("u")).alias("label")))


def _spark_cc_labels(edges: DataFrame, nodes: DataFrame, id_col: str,
                     max_iter: int) -> DataFrame:
    """Min-label propagation + pointer doubling, one checkpointed Spark
    action per round (see :func:`connected_components`)."""
    _chk = eager_checkpoint
    # Eager like `edges` and the per-round checkpoints: lazy here left
    # round 1's first join dragging the full ids.distinct() lineage
    # (source scan + distinct exchange re-run inside the round job).
    labels = _chk(nodes.select("u", F.col("u").alias("label")))
    prev_sum = None
    for _ in range(max_iter):
        msgs = edges.join(labels, on="u").select(F.col("v").alias("u"), "label")
        labels = (labels.union(msgs).groupBy("u")
                  .agg(F.min("label").alias("label")))
        # pointer doubling: every label value is itself a node id, so
        # resolving one hop through the mapping halves chain lengths
        lmap = labels.select(F.col("u").alias("__lu"),
                             F.col("label").alias("__ll"))
        labels = labels.join(lmap, labels["label"] == lmap["__lu"], "left") \
                       .select(F.col("u"),
                               F.coalesce("__ll", "label").alias("label"))
        # try_cast, not cast: under ANSI (Spark 4 default) a plain cast of
        # a non-numeric label THROWS mid-probe; try_cast yields NULL so we
        # can diagnose it as `bad` and raise our own actionable error
        lnum = F.col("label").try_cast("decimal(38,0)")
        obs = Observation()
        labels = _chk(labels.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("label").isNotNull() & lnum.isNull(),
                           1)).alias("bad"),
            F.sum(lnum).alias("s")))
        probe = obs.get
        if probe["n"] == 0:
            # 0-row node set (empty corpus upstream): trivially converged —
            # without this, the NULL sum never equals itself and the loop
            # exhausts max_iter with a misleading non-convergence error
            return labels
        if probe["bad"] > 0:
            raise TypeError(
                f"connected_components: {probe['bad']} label value(s) do "
                f"not cast to decimal — the convergence probe requires "
                f"numeric {id_col} values (e.g. bigint doc ids)")
        if prev_sum is not None and probe["s"] == prev_sum:
            return labels
        prev_sum = probe["s"]
    raise _unconverged(max_iter)


def near_dedup_survivors(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Corpus after near-dedup: keep one row (the min-id member) per
    connected component of the candidate-pair graph."""
    cc = connected_components(pairs, df.select(id_col), id_col)
    keep = cc.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(keep, on=id_col, how="left_semi")


def hyperplanes(n_tables: int, n_planes: int, dim: int, seed: int = 7):
    """Fixed random hyperplanes, shape (n_tables, n_planes, dim).

    Deterministic (seeded) so the Spark operator and the DuckDB oracle SQL
    builder (plane coefficients inlined as literals) see identical planes.
    """
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_tables, n_planes, dim))


def embedding_near_dup_pairs(df: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             threshold: float = 0.95,
                             n_planes: int = 8, n_tables: int = 8,
                             max_bucket: int | None = 1000,
                             dim: int | None = None,
                             seed: int = 7) -> DataFrame:
    """Embedding-cosine near-dup via multi-table random-hyperplane LSH.

    ``n_tables`` independent hash tables of ``n_planes`` hyperplanes each;
    a pair is a candidate iff it collides in ANY table (recall
    1-(1-p^n_planes)^n_tables for bit-agree prob p = 1 - theta/pi — recall
    pinned by tests/test_dedup.py against planted near-dup clusters).  At
    scale, size n_planes ~ log2(n/target_bucket) so buckets stay bounded,
    and raise n_tables for recall.

    Plan shape (the 100 TB path):
    * all n_tables*n_planes dot products in ONE Arrow-batched GEMM per batch
      (an Arrow UDF over the vector codec), not n*t separate array folds;
    * candidate generation = equi self-join on (table, bucket) emitting ONLY
      id pairs, dedup-ed BEFORE vectors are touched;
    * ``max_bucket`` drops degenerate buckets (e.g. all-zeros embeddings)
      above that width — the cap that keeps the within-bucket join from
      going quadratic on pathological data.  The default is the finite
      1000 of the MinHash/SimHash siblings, so the library default matches
      its production callers (which all pass a cap); pass
      ``max_bucket=None`` explicitly for the exact candidate set.  The
      width is a ``count() over (partition by table, bucket)`` window
      (``cap_bucket_width``), so every row of a pathological bucket
      reaches one window task before the filter drops it;
    * exact cosine only for distinct candidate pairs, vectors re-joined by
      id (broadcast-able when candidates are few).
    """
    from pyspark.sql.types import ArrayType, LongType

    check_max_bucket(max_bucket)  # before the dim probe runs a job
    if dim is None:
        # O(1) build-time probe, but still an extra Spark job over the
        # upstream plan — prefer passing ``dim`` when the embedding width
        # is known.  Probe past NULL embeddings (a null first row is
        # routine in scraped corpora and len(None) would fail on the
        # driver).
        first = df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
        if first is None:
            return (df.sparkSession.createDataFrame(
                [], f"id_a {dict(df.dtypes)[id_col]}, "
                    f"id_b {dict(df.dtypes)[id_col]}, cosine double"))
        dim = len(first[vec_col])
    # Null / ragged / null- or NaN-element vectors cannot be hashed or
    # scored — drop them up front in the JVM (the codec's drop rule), so
    # the hash side and the cosine side see the same rows.  A NaN vector
    # that reached the hash would land in bucket 0 of every table (NaN >= 0
    # is false) and could push that bucket over ``max_bucket``.
    v0 = F.col(vec_col)
    df = df.filter(v0.isNotNull() & (F.size(v0) == F.lit(dim))
                   & ~F.exists(v0, lambda x: x.isNull() | F.isnan(x)))
    planes = hyperplanes(n_tables, n_planes, dim, seed)
    pmat = planes.reshape(n_tables * n_planes, dim)  # (t*m, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.arrow_udf(ArrayType(LongType()))
    def _buckets(col: pa.Array) -> pa.Array:
        x, kept = decode_vectors(col)                          # (b, dim)
        if x is None:
            return pa.nulls(len(col), pa.list_(pa.int64()))
        signs = (x @ pmat.T) >= 0.0                            # (b, t*m) one GEMM
        b = signs.reshape(len(x), n_tables, n_planes) @ weights  # (b, t)
        return encode_vectors(b.astype(np.int64), kept, len(col))

    v = F.col(vec_col).cast("array<double>")
    tagged = df.select(
        F.col(id_col),
        F.posexplode(_buckets(v)).alias("tbl", "bucket"),
    )
    tagged = cap_bucket_width(tagged, ["tbl", "bucket"], max_bucket)
    a, b = tagged.alias("a"), tagged.alias("b")
    cand = (
        a.join(b, on=["tbl", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )

    from featureextraction_jl_spark.functions.vectors import (
        dot_cols,
        norm_col,
    )

    # Norms precomputed per side BEFORE the join (per-row constants; the
    # composed cosine_cols would re-fold them per candidate pair).
    vecs = df.select(F.col(id_col).alias("__id"), v.alias("__v")) \
             .withColumn("__n", norm_col(F.col("__v")))
    va = vecs.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
                     F.col("__n").alias("__na"))
    vb = vecs.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
                     F.col("__n").alias("__nb"))
    dot = dot_cols(F.col("__va"), F.col("__vb"))
    return (
        cand.join(va, on="id_a").join(vb, on="id_b")
        .withColumn("cosine", dot / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
