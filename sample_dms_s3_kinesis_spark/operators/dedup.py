"""Deduplication operators for training-data pipelines:

- exact (full-text groupBy)            → SQL-oracle-checkable
- exact by md5 content hash            → SQL-oracle-checkable
- n-gram Jaccard near-dup (exact)      → verified vs a Python reference
- MinHash + LSH near-dup (approximate) → Spark-native (xxhash64)
- SimHash near-dup (approximate)       → Spark-native (xxhash64)
- embedding-cosine near-dup            → SQL-oracle-checkable (DuckDB
  list_cosine_similarity)

Scale design notes (the whole point of these shapes):
- Exact dedup is one hash-partitioned groupBy on the content hash —
  shuffle moves 16-byte digests + ids, never document bodies.
- MinHash/LSH: shingle → k minhashes → b bands; candidate generation is
  ``explode(bands)`` + self-join on (band_idx, band_hash) — the shuffle
  key is the band bucket, so cost is O(candidates), not O(n²).  Bucket
  skew (a boilerplate band shared by millions of docs) is the classic
  hazard: cap bucket width upstream or salt; AQE skew handling covers
  moderate skew.
- SimHash: one aggregate fold per doc (64-dim bit-count vector), then
  banding on 16-bit chunks — same candidate-join shape as LSH.
- Embedding near-dup joins within a blocking key (label / IVF cell) to
  bound the pair count.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sample_dms_s3_kinesis_spark.operators.partitioning import spread
from sample_dms_s3_kinesis_spark.operators.text import (
    _bind,
    _check_hash_family,
    segment_tokens,
    tokens,
)

_LOG = logging.getLogger("sample_dms_s3_kinesis_spark.dedup")

# Build sides at or below this row count broadcast; above it the pair
# join falls back to a salted shuffle join (see _block_pair_join).
BROADCAST_ROWS = 200_000


def _cut_lineage(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage.

    ``localCheckpoint`` stores blocks on executors — fast, but NOT
    fault-tolerant: at 100 TB a lost executor aborts an iterative job
    mid-fixpoint.  Pass ``checkpoint_dir`` (HDFS/S3/DBFS path) to use a
    reliable ``checkpoint()`` instead; default behavior is unchanged.
    """
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _block_pair_join(
    a: DataFrame,
    b: DataFrame,
    build_rows: int | None,
    *,
    probe_id: str = "id_a",
    salt: int = 16,
    broadcast_rows: int = BROADCAST_ROWS,
    broadcast: bool | None = None,
) -> DataFrame:
    """Join two sides of a block-keyed self-pairing on ``_blk``.

    Blocking keys have FEW distinct values (a language, a length
    bucket), so a plain shuffle join collapses to one task per block.
    Small build sides broadcast (full probe-side parallelism).  Large
    ones — e.g. when a pair verifier is run standalone over a whole
    corpus rather than on LSH candidates — would OOM the driver or
    executors as a broadcast, so they take a SALTED shuffle join
    instead: the probe side hashes into ``salt`` buckets, the build
    side replicates into every bucket, and the join key (_blk, _salt)
    gives blocks × salt parallel tasks while still producing each pair
    exactly once.

    ``broadcast`` pins the strategy without the sizing count (callers
    that KNOW the build side is small/large pass True/False and skip
    the extra job); None size-gates on ``build_rows``."""
    if broadcast is None:
        broadcast = build_rows is not None and build_rows <= broadcast_rows
    if broadcast:
        return a.join(F.broadcast(b), on="_blk")
    a_s = a.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(probe_id)), F.lit(salt))
    )
    b_s = b.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return a_s.join(b_s, on=["_blk", "_salt"]).drop("_salt")


# ---------------------------------------------------------------- exact

def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups with >1 identical ``text_col``; keeps min id as canonical.
    Returns (keep_id, dup_count) per duplicated content value."""
    return (
        df.groupBy(text_col)
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
        .select("keep_id", "dup_count")
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one survivor (min id) per distinct text.  The
    groupBy key is md5(text) so the shuffle carries digests, not bodies
    — at 100 TB this is the difference between shuffling 16 B and 100 KB
    per row."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("group_size"))
        .select(id_col, "group_size")
    )


def dedup_canonical(
    df: DataFrame,
    priority: Column,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup with PRIORITY-based survivor selection: per distinct
    content, keep the document with the lowest ``priority`` value
    (source-rank tie-broken by id) — the production rule "prefer the
    curated source's copy over the crawl's" rather than blind min-id.

    Same 100 TB shape as :func:`dedup_exact`: the groupBy key is the
    16-byte md5 digest, never the body, and the survivor is picked with
    ``min_by`` inside the aggregate (one shuffle, no window, no second
    pass).  Output: (id_col, group_size, src_priority) where
    src_priority is the SURVIVING copy's priority.  A NULL priority
    ranks LAST (an un-ranked source never beats a ranked one — struct
    min would otherwise sort NULL first and a missed priority lookup
    would win every group, while the reported min skipped NULLs and
    disagreed with the survivor).
    """
    keyed = df.select(
        F.col(id_col),
        priority.cast("long").alias("_prio"),
        F.md5(F.col(text_col)).alias("_h"),
    )
    prio_key = F.coalesce(F.col("_prio"), F.lit(2**63 - 1))
    return (
        keyed.groupBy("_h")
        .agg(
            F.min_by(
                F.struct(F.col(id_col), F.col("_prio")),
                F.struct(prio_key, F.col(id_col)),
            ).alias("_win"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select(
            F.col(f"_win.{id_col}").alias(id_col),
            "group_size",
            F.col("_win._prio").alias("src_priority"),
        )
    )


def dedup_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup of a NEW corpus against an EXISTING one
    (the every-crawl operation: never re-admit content already in the
    training set), then within the new batch itself (min-id survivor).

    Both sides reduce to md5 digests before the anti-join, so the
    shuffle carries 16-byte keys; the existing side is a digest set a
    downstream system would typically persist and reuse.
    """
    new_h = new.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
    old_h = existing.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    fresh = new_h.join(old_h, "_h", "left_anti")
    return (
        fresh.groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


# ---------------------------------------------------- n-gram Jaccard

def token_ngrams(col: Column, n: int = 3) -> Column:
    """Token n-gram shingle set (distinct).  The token array is bound
    once (text._bind): referencing the split expression inside the
    per-position lambda would re-split the text once per shingle
    position — O(tokens²) per document on the hot path of every
    minhash/Jaccard operator.

    Tokens come from ``text.segment_tokens``: whitespace words, with
    space-free-script tokens (Han/kana/Hangul/Thai/…) expanded into
    character n-grams first — so a CJK document (one whitespace token
    per clause) yields a real shingle set instead of the empty set
    that used to null out its minhash signature.  On ASCII text
    segment_tokens ≡ whitespace split, so every existing ASCII oracle
    is byte-identical."""

    def _grams(toks: Column) -> Column:
        count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        idx = F.sequence(F.lit(1), count)
        grams = F.when(
            count > 0,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
        ).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(grams)

    return _bind(segment_tokens(F.lower(col), char_n=n), _grams)


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.8,
    broadcast_rows: int = BROADCAST_ROWS,
    broadcast: bool | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity over candidate pairs.

    Pairs are generated within ``block_col`` (a blocking key: language,
    length bucket, LSH bucket…) to bound the quadratic term; with no
    block the whole frame is one block (test-scale only).  Jaccard is
    computed with array_intersect/array_union sizes — JVM-side.
    Output: (id_a, id_b, jaccard) with id_a < id_b.

    ``broadcast`` True/False pins the pair-join strategy and skips the
    eager sizing ``count()`` — on an expensive upstream plan that count
    is a full extra materialization; None (default) size-gates.
    """
    build_rows = df.count() if broadcast is None else None
    grams = spread(df).select(
        F.col(id_col).alias("_id"),
        (F.col(block_col) if block_col else F.lit(1)).alias("_blk"),
        token_ngrams(F.col(text_col), n).alias("_g"),
    )
    a = grams.select(
        F.col("_blk"), F.col("_id").alias("id_a"), F.col("_g").alias("_ga"),
        F.size("_g").alias("_na"),
    )
    b = grams.select(
        F.col("_blk"), F.col("_id").alias("id_b"), F.col("_g").alias("_gb"),
        F.size("_g").alias("_nb"),
    )
    # Exactness-preserving prune: jaccard <= min(|A|,|B|)/max(|A|,|B|),
    # so size-mismatched pairs skip the expensive array_intersect.
    size_bound = F.least("_na", "_nb").cast("double") >= (
        F.lit(threshold) * F.greatest("_na", "_nb").cast("double")
    )
    # As the exact verifier behind minhash_lsh_pairs the build side is
    # a bounded candidate set and broadcasts; run STANDALONE over a
    # whole corpus it would OOM as a broadcast, so _block_pair_join
    # size-gates and falls back to a salted shuffle join.
    pairs = (
        _block_pair_join(
            a, b, build_rows, broadcast_rows=broadcast_rows, broadcast=broadcast
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(size_bound)
    )
    # Grams are distinct sets, so |A∪B| = |A|+|B|-|A∩B|: one hash-set
    # build per pair instead of two (array_union dropped).
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb"))).cast("double")
    union = (F.col("_na") + F.col("_nb")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # filter on the RAW similarity, round only for output: a pair at
    # 0.7999999 would otherwise round to 0.8 and pass a 0.8 threshold
    # it does not satisfy (and disagree with prefix_jaccard_pairs,
    # which filters unrounded)
    return (
        pairs.select("id_a", "id_b", jac.alias("_raw"))
        .filter(F.col("_raw") >= threshold)
        .select("id_a", "id_b", F.round(F.col("_raw"), 6).alias("jaccard"))
    )


# ------------------------------------------------------- MinHash + LSH

def _gram_hashes(grams: Column, *, hash_family: str = "xxhash64") -> Column:
    """Per-shingle 64-bit base hash — the only STRING hashing in the
    minhash pipeline (one pass over each shingle's bytes).

    ``hash_family="md5"`` swaps in a cross-engine-replicable family
    (first 16 hex chars of md5, compared lexicographically — identical
    ordering to the unsigned numeric value): slower than xxhash64, but
    DuckDB computes the very same signatures, so the md5 flavor's LSH
    output is EXACT-oracle-checkable end to end.  Default stays
    xxhash64 for the production path."""
    _check_hash_family(hash_family)
    if hash_family == "md5":
        return F.transform(grams, lambda g: F.substring(F.md5(g), 1, 16))
    return F.transform(grams, lambda g: F.xxhash64(g))


# --- bit-exact NumPy replica of Spark's XxHash64 on fixed-width inputs
# (seed-chained exactly like the Catalyst expression: every non-first
# argument's hash uses the previous hash as its seed).  Used by the
# vectorized minhash signature UDF; pinned against F.xxhash64 by test.
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_XXH_SEED = 42

# Row-slice bound for the vectorized signature/pack UDFs: at most this
# many concatenated token hashes are materialized per slice (the
# simhash pack unpacks 64 bytes per hash → ~128 MB transient at 2M).
_UDF_TOKEN_CHUNK = 2_000_000


def _xxh64_rotl(x, r):
    import numpy as np

    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _xxh64_fmix(h):
    import numpy as np

    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_XXH_P2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_XXH_P3)
    h = h ^ (h >> np.uint64(32))
    return h


def _xxh64_long(value, seed):
    """XXH64 of 8-byte little-endian long(s); value uint64 array."""
    import numpy as np

    with np.errstate(over="ignore"):
        h = np.uint64(seed) + np.uint64(_XXH_P5) + np.uint64(8)
        k1 = _xxh64_rotl(value * np.uint64(_XXH_P2), 31) * np.uint64(_XXH_P1)
        h = h ^ k1
        h = _xxh64_rotl(h, 27) * np.uint64(_XXH_P1) + np.uint64(_XXH_P4)
        return _xxh64_fmix(h)


def _xxh64_int(i, seed):
    """XXH64 4-byte-int tail (Spark hashes INT literals as 4 bytes);
    seed may be a uint64 array (the chained previous hash)."""
    import numpy as np

    with np.errstate(over="ignore"):
        h = seed + np.uint64(_XXH_P5) + np.uint64(4)
        h = h ^ (np.uint64(np.uint32(i)) * np.uint64(_XXH_P1))
        h = _xxh64_rotl(h, 23) * np.uint64(_XXH_P2) + np.uint64(_XXH_P3)
        return _xxh64_fmix(h)


def _signature_from_hashes(
    hashes: Column, *, num_hashes: int, hash_family: str = "xxhash64"
) -> Column:
    """k minhashes from the base hashes: slot i re-hashes each 8-byte
    base value as xxhash64(h, i).  Hashing a long is a few multiplies —
    k passes stay cheap — and each slot is a genuinely independent
    permutation.  (A Kirsch–Mitzenmacher h1 + i·h2 family is NOT
    min-wise independent: for large i the argmin is dominated by h2, so
    k slots collapse to ~2 effective permutations and the Jaccard
    estimator turns bimodal — observed before this fix.)

    ``hashes`` is routed through ``_bind`` before the k slot
    transforms: Catalyst does NOT common-subexpression-eliminate the
    k sibling references, so an inline ``hashes`` expression
    (tokenize → shingle → string-hash) would be re-evaluated once PER
    SLOT — measured 8.95 s → 0.40 s for the k=128 signature scan at
    sf0.1 (the same HOF-CSE trap text._bind fixed for winnowing in
    r4, one level up)."""

    if hash_family == "md5":
        # slot i re-hashes each 16-hex base value as md5(h || ':i');
        # lexicographic min over fixed-length lowercase hex == numeric
        # min, and DuckDB's list_aggregate(..., 'min') agrees — this
        # flavor exists so the whole LSH pipeline is oracle-replicable.
        def _slot_hash(h: Column, i: int) -> Column:
            return F.md5(F.concat(h, F.lit(f":{i}")))
    else:
        # NOTE: a Column-level pandas UDF would vectorize these k
        # interpreted passes, but on Spark 4.1 RE-executing a plan
        # whose projection carries an array-returning pandas UDF loses
        # the ArrowEvalPython extraction and aborts with
        # INTERNAL_ERROR "Cannot evaluate expression: PythonUDF"
        # (scalar-returning UDFs are unaffected; reproduced on a
        # trivial list-returning UDF).  The DataFrame-shaped callers
        # take the vectorized :func:`_minhash_sig_frame` (mapInPandas
        # plans as its own node and re-executes fine); this expression
        # form stays for the Column API and the md5 family.
        def _slot_hash(h: Column, i: int) -> Column:
            return F.xxhash64(h, F.lit(i))

    def _slots(hs: Column) -> Column:
        # a doc with NO shingles has NO minhash: the former per-slot
        # sentinel (2^63-1) made every short doc's signature identical
        # — all sub-shingle-length docs became mutual "near-dups" with
        # est_jaccard 1.0 and shared one quadratic band bucket.  NULL
        # signatures are excluded from banding; exact digest gates
        # catch identical short docs.
        return F.when(
            F.size(hs) > 0,
            F.array(
                *[
                    F.array_min(
                        F.transform(hs, lambda h: _slot_hash(h, i))
                    )
                    for i in range(num_hashes)
                ]
            ),
        )

    return _bind(hashes, _slots)


def _minhash_sig_frame(
    gh_df: DataFrame,
    *,
    num_hashes: int,
    id_col: str = "_id",
    gh_col: str = "_gh",
    out_col: str = "_sig",
    token_chunk: int = _UDF_TOKEN_CHUNK,
) -> DataFrame:
    """(id, gram-hash array) → (id, k-slot minhash signature) in one
    vectorized Arrow ``mapInPandas`` pass — the xxhash64-family scan
    path.  The k slot hashes xxhash64(h, lit(i)) are replicated
    bit-exactly in NumPy uint64 arithmetic (XXH64 one-long block with
    seed 42, then the 4-byte-int tail with the previous hash as its
    seed — pinned by test against F.xxhash64), so signatures, bands
    and every downstream pair equal the expression form's, while the
    per-batch work is np.minimum.reduceat over a concatenated hash
    buffer instead of k interpreted higher-order passes per document.
    NULL/empty gram arrays yield NULL signatures (the no-shingle rule
    of :func:`_signature_from_hashes`)."""
    id_type = gh_df.schema[id_col].dataType.simpleString()

    def batches(it):
        import numpy as np

        for pdf in it:
            arrs = pdf[gh_col]
            out = [None] * len(pdf)
            parts: list = []
            lens: list = []
            rows_with: list = []
            for i, a in enumerate(arrs):
                if a is None:
                    continue
                aa = np.ascontiguousarray(a, dtype="<i8")
                if aa.size:
                    parts.append(aa)
                    lens.append(aa.size)
                    rows_with.append(i)
            # row-sliced like the simhash pack: the concatenated hash
            # buffer (and each slot's rehash of it) stays bounded no
            # matter how long the documents in a batch are
            lo = 0
            while lo < len(parts):
                hi = lo
                tok = 0
                while hi < len(parts) and (
                    hi == lo or tok + lens[hi] <= token_chunk
                ):
                    tok += lens[hi]
                    hi += 1
                allh = np.concatenate(parts[lo:hi]).view(np.uint64)
                h1 = _xxh64_long(allh, _XXH_SEED)
                lens_arr = np.asarray(lens[lo:hi], dtype=np.int64)
                starts = np.zeros(hi - lo, dtype=np.int64)
                np.cumsum(lens_arr[:-1], out=starts[1:])
                sigs = np.empty((hi - lo, num_hashes), dtype=np.int64)
                for slot in range(num_hashes):
                    s = _xxh64_int(slot, h1).view(np.int64)
                    sigs[:, slot] = np.minimum.reduceat(s, starts)
                for j in range(hi - lo):
                    out[rows_with[lo + j]] = sigs[j]
                lo = hi
            yield pd.DataFrame({id_col: pdf[id_col], out_col: out})

    return gh_df.mapInPandas(
        batches, schema=f"{id_col} {id_type}, {out_col} array<bigint>"
    )


def minhash_signature(
    col: Column, *, num_hashes: int = 128, hash_family: str = "xxhash64"
) -> Column:
    """k minhashes of the doc's 3-gram shingle set (independent
    per-slot re-hash of per-shingle base hashes)."""
    return _signature_from_hashes(
        _gram_hashes(token_ngrams(col), hash_family=hash_family),
        num_hashes=num_hashes,
        hash_family=hash_family,
    )


def _band_hashes(
    sig: Column, *, bands: int, rows: int, hash_family: str = "xxhash64"
) -> Column:
    """One xxhash64 per band over its r signature slots.  ``sig`` is
    bound once (``_bind``): the b·r sibling ``element_at`` references
    would otherwise re-evaluate an inline signature expression once
    per slot (projection collapse can inline even a previously
    projected column)."""

    if hash_family == "md5":
        # slots are already hex strings; md5 over the joined band
        # mirrors DuckDB's md5(string_agg(slot, ',' ORDER BY i))
        def _bands(s: Column) -> Column:
            return F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(s, b * rows + r + 1)
                                for r in range(rows)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
    else:
        # The band hash only carries EQUALITY (same r slot longs → same
        # bucket), so hash the slot longs directly with the multi-arg
        # xxhash64 instead of rendering them to strings and hashing the
        # join: r long→string conversions + a concat + a variable-length
        # string hash per band collapse to one fixed-width seed-chained
        # hash.  Bucket membership is unchanged (equal tuples still
        # collide; unequal tuples collide only at the same 2^-64 rate
        # the string hash already had).
        def _bands(s: Column) -> Column:
            return F.array(
                *[
                    F.xxhash64(
                        *[
                            F.element_at(s, b * rows + r + 1)
                            for r in range(rows)
                        ]
                    )
                    for b in range(bands)
                ]
            )

    return _bind(sig, _bands)


def _band_geometry(num_hashes: int, bands: int) -> int:
    """Validated banding geometry: rows-per-band.  ``bands`` must
    divide ``num_hashes`` exactly — ``bands > num_hashes`` gives
    rows = 0 (every doc's band hash collapses to the hash of zero
    slots: a single universal bucket, i.e. an O(n²) cross join or,
    capped, zero candidates), and a non-dividing combo silently drops
    the trailing signature slots and changes the advertised recall
    curve.  Fail loudly instead."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes: got num_hashes={num_hashes}, "
            f"bands={bands}"
        )
    return num_hashes // bands


def _hot_buckets(
    frame: DataFrame, max_width: int, keys: tuple[str, ...]
) -> DataFrame:
    """Join-key buckets of ``frame`` wider than ``max_width``: a
    map-side-combined groupBy count.  The list is tiny by construction
    (at most total_rows/cap buckets can exceed the cap — usually none),
    so it always broadcasts."""
    key_cols = list(keys)
    return (
        frame.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_w"))
        .filter(F.col("_w") > max_width)
        .select(*key_cols)
    )


def _drop_hot_buckets(
    banded: DataFrame,
    max_band_width: int,
    *,
    keys: tuple[str, ...] = ("_band", "_bh"),
) -> DataFrame:
    """Remove rows of join-key buckets wider than ``max_band_width``
    via a broadcast anti-join against :func:`_hot_buckets`, which
    keeps the no-hot-bucket case nearly free."""
    hot = _hot_buckets(banded, max_band_width, keys)
    return banded.join(F.broadcast(hot), list(keys), "left_anti")


# ------------------------------------------------------------ pair cores
#
# Each similarity family has ONE pair core ``_<family>_pairs(left,
# right=None, ...)``.  With ``right=None`` it is the batch self-join of
# ``left``: pairs (id_a < id_b), and a hot-bucket cap applies to the
# one frame.  With a ``right`` frame it is the incremental probe of a
# NEW batch (left) against an EXISTING corpus (right): (new_id,
# existing_id) pairs, the corpus never pairs with itself (each batch
# pays O(new × collisions); at 100 TB the existing side's frame is a
# table persisted once and re-joined per batch), and the cap applies
# to the existing side, whose boilerplate hazard grows with the
# corpus.  The public self-join and ``*_against`` operators are thin
# callers, so banding, capping and verification live in one place.

def _pair_names(right: DataFrame | None) -> tuple[str, str]:
    """Output id columns of a pair core."""
    return ("id_a", "id_b") if right is None else ("new_id", "existing_id")


def _bucket_join(
    left: DataFrame,
    right: DataFrame | None,
    keys: tuple[str, ...],
    max_width: int | None = None,
) -> DataFrame:
    """Join a pair core's keyed (_id, *keys, ...) frames as "x" (left)
    and "y" (right) on equal ``keys`` — the self-join of ``left``, with
    id order (each unordered pair once), when ``right`` is None.
    Buckets wider than ``max_width`` drop from the right side, which
    for the self-join is the one frame."""
    other = left if right is None else right
    if max_width is not None:
        other = _drop_hot_buckets(other, max_width, keys=keys)
    on = [F.col(f"x.{k}") == F.col(f"y.{k}") for k in keys]
    if right is None:
        left = other
        on.append(F.col("x._id") < F.col("y._id"))
    return left.alias("x").join(other.alias("y"), on=on)


def _per_side(
    pairs: DataFrame,
    ids: tuple[str, str],
    sides: tuple[DataFrame, DataFrame],
    value: Column,
    names: tuple[str, str],
) -> DataFrame:
    """Attach one per-doc ``value`` of each side's (_id, ...) frame to
    ``pairs``: the left side's as ``names[0]`` on ``ids[0]``, the right
    side's as ``names[1]`` on ``ids[1]``."""
    for i, side, name in zip(ids, sides, names):
        pairs = pairs.join(
            side.select(F.col("_id").alias(i), value.alias(name)), i
        )
    return pairs


def _sides(build, left: DataFrame, right: DataFrame | None):
    """``build`` applied to both sides of a pair core — once, and
    shared, for the self-join.  The left side builds first (eager
    checkpoints keep the new-then-existing order)."""
    built = build(left)
    return built, (built if right is None else build(right))


def _band_candidates(
    sig: DataFrame,
    right: DataFrame | None = None,
    *,
    bands: int,
    rows: int,
    max_band_width: int | None = None,
    hash_family: str = "xxhash64",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Distinct candidate pairs of (_id, _sig) frames: docs sharing any
    band hash.  The join key is (band index, band hash) — shuffle cost
    is O(candidates), not O(n²).

    ``max_band_width`` caps the boilerplate-band skew hazard: a band
    bucket shared by w docs emits w² pairs in ONE join task, so a
    single boilerplate shingle window (license header, nav bar) shared
    by millions of docs turns the bucket join into an effective cross
    join.  The cap is pay-as-you-go: over-cap buckets are found with a
    map-side-combined groupBy count (shuffle volume = distinct buckets,
    not rows) and removed with a BROADCAST anti-join — when no bucket
    is hot, the cap costs one cheap aggregate pass over the
    materialized band frame.  The hot bucket's count is O(w), not the
    O(w²) its join would pay.  Candidates lost are only pairs whose
    SOLE agreeing band is the boilerplate one — genuinely similar docs
    agree on other bands too; with b bands the chance a true near-dup
    pair survives in no other band is (1-s^r)^(b-1), negligible at the
    default shapes."""

    def _banded(s: DataFrame) -> DataFrame:
        # NULL signatures (shingle-less docs) never band
        return s.filter(F.col("_sig").isNotNull()).select(
            "_id",
            F.posexplode(
                _band_hashes(
                    F.col("_sig"), bands=bands, rows=rows,
                    hash_family=hash_family,
                )
            ).alias("_band", "_bh"),
        )

    a, b = _pair_names(right)
    left = _banded(sig)
    if right is None:
        # Materialize the banded frame once: it is referenced by BOTH
        # sides of the self-join and (with a cap) by the hot-bucket
        # count, and Spark does not share subtrees across join sides —
        # uncheckpointed, the band-hash projection + explode ran up to
        # 4x per execution.  The stored rows are (_id, int, long) —
        # smaller than the signature arrays the subtree would re-read.
        left = _cut_lineage(left, checkpoint_dir)
    else:
        right = _banded(right)
        if max_band_width is not None:
            # the hot-bucket count and the anti-join each read the
            # existing side's band frame — cut it so the projection +
            # explode runs once; uncapped it is read once, uncut
            right = _cut_lineage(right, checkpoint_dir)
    return (
        _bucket_join(left, right, ("_band", "_bh"), max_band_width)
        .select(F.col("x._id").alias(a), F.col("y._id").alias(b))
        .distinct()
    )


def _minhash_sigs(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    num_hashes: int,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(_id, _sig) minhash signatures of ``df``'s 3-gram shingle sets:
    the vectorized :func:`_minhash_sig_frame` scan for xxhash64, the
    expression form for md5."""
    gh = spread(df).select(
        F.col(id_col).alias("_id"),
        _gram_hashes(
            token_ngrams(F.col(text_col)), hash_family=hash_family
        ).alias("_gh"),
    )
    if hash_family == "md5":
        return gh.select(
            "_id",
            _signature_from_hashes(
                F.col("_gh"), num_hashes=num_hashes, hash_family=hash_family
            ).alias("_sig"),
        )
    return _minhash_sig_frame(gh, num_hashes=num_hashes)


def _est_jaccard(num_hashes: int) -> Column:
    """Estimated Jaccard of signature columns _sa, _sb: the fraction of
    agreeing minhash slots."""
    return (
        F.size(
            F.filter(
                F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )


def _minhash_pairs(
    sig: DataFrame,
    right: DataFrame | None = None,
    *,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_band_width: int | None,
    hash_family: str = "xxhash64",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """MinHash-LSH pair core over (_id, _sig) frames: band candidates
    (:func:`_band_candidates`), verified by estimated Jaccard = the
    fraction of agreeing minhashes ≥ ``threshold``."""
    cand = _band_candidates(
        sig, right, bands=bands, rows=_band_geometry(num_hashes, bands),
        max_band_width=max_band_width, hash_family=hash_family,
        checkpoint_dir=checkpoint_dir,
    )
    a, b = _pair_names(right)
    return (
        _per_side(
            cand, (a, b), (sig, sig if right is None else right),
            F.col("_sig"), ("_sa", "_sb"),
        )
        .select(a, b, _est_jaccard(num_hashes).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
    max_band_width: int | None = 10_000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs.

    shingle → k minhashes → b bands of r=k/b rows; docs sharing any
    band-hash become candidates (explode + self-join on the band
    bucket); candidates are verified by estimated Jaccard = fraction of
    agreeing minhashes ≥ threshold.  Output: (id_a, id_b, est_jaccard).
    ``max_band_width`` drops boilerplate band buckets before the
    self-join (see :func:`_band_candidates`); None disables the cap.
    """
    _band_geometry(num_hashes, bands)  # fail before the eager signatures
    sig = _cut_lineage(
        _minhash_sigs(
            df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
            hash_family=hash_family,
        ),
        checkpoint_dir,
    )
    return _minhash_pairs(
        sig, num_hashes=num_hashes, bands=bands, threshold=threshold,
        max_band_width=max_band_width, hash_family=hash_family,
        checkpoint_dir=checkpoint_dir,
    )


def minhash_lsh_pairs_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
    max_band_width: int | None = 10_000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Incremental cross-corpus NEAR-dup: candidate pairs between a NEW
    batch and an EXISTING corpus — the every-crawl operation (is this
    page a near-copy of anything already in the training set?).

    Same banding as :func:`minhash_lsh_pairs`, but the band join is
    new × existing instead of a self-join: the existing corpus is never
    paired against itself, so each crawl pays O(new × collisions), not
    O((new+existing)²) — at 100 TB the existing side's band frame is a
    table you persist once and re-join per batch.  The width cap
    applies to the EXISTING side (the boilerplate hazard grows with
    corpus size).  Output: (new_id, existing_id, est_jaccard ≥ τ).
    """
    _band_geometry(num_hashes, bands)  # fail before the eager signatures

    def _sigs(d: DataFrame) -> DataFrame:
        return _cut_lineage(
            _minhash_sigs(
                d, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
                hash_family=hash_family,
            ),
            checkpoint_dir,
        )

    return _minhash_pairs(
        *_sides(_sigs, new, existing), num_hashes=num_hashes, bands=bands,
        threshold=threshold, max_band_width=max_band_width,
        hash_family=hash_family, checkpoint_dir=checkpoint_dir,
    )


def near_dedup_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
    max_band_width: int | None = 10_000,
) -> DataFrame:
    """Admission gate on top of :func:`minhash_lsh_pairs_against`: the
    NEW docs that are near-duplicates of nothing in the existing corpus
    (anti-join on the flagged id set — the corpus itself never
    shuffles).  Output: (id_col) of admitted new docs.

    ``max_band_width`` forwards to the candidate generator — pass None
    to disable the hot-bucket cap when admission must consider every
    candidate (a capped run can admit a doc whose only agreeing band
    bucket was dropped), or tighten it for heavily boilerplated
    corpora."""
    flagged = minhash_lsh_pairs_against(
        new, existing, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, threshold=threshold, checkpoint_dir=checkpoint_dir,
        max_band_width=max_band_width,
    ).select(F.col("new_id").alias(id_col)).distinct()
    return new.select(id_col).join(flagged, on=id_col, how="left_anti")


def lsh_verified_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 63,
    bands: int = 21,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
    max_band_width: int | None = 10_000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """The 100 TB near-dup shape: MinHash-LSH candidate generation, then
    EXACT n-gram Jaccard verification of candidates only.
    ``hash_family="md5"`` swaps in the cross-engine-replicable family
    (same contract as minhash_lsh_pairs) so compositions over this
    operator can be exact-oracle-checked.

    ``ngram_jaccard_pairs`` is exact but O(n²) within its block;
    ``minhash_lsh_pairs`` is subquadratic but returns estimates.  This
    composition pays the quadratic term only on the candidate set and
    returns true Jaccard values: every output pair genuinely satisfies
    jaccard >= threshold.  Recall at similarity s is 1-(1-s^r)^b with
    r = num_hashes/bands; the default (r=3, b=21) gives 0.94 at s=0.5
    and >0.999 at s>=0.65, while admitting ~30x fewer false candidates
    than r=2 — candidate volume, not recall, is the scale cost.
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    rows = _band_geometry(num_hashes, bands)
    base = (
        spread(df)
        .select(
            F.col(id_col).alias("_id"),
            token_ngrams(F.col(text_col)).alias("_g"),
        )
        .select(
            "_id",
            "_g",
            _gram_hashes(F.col("_g"), hash_family=hash_family).alias("_gh"),
        )
        .select(
            "_id",
            "_g",
            F.size("_g").alias("_n"),
            _signature_from_hashes(
                F.col("_gh"), num_hashes=num_hashes, hash_family=hash_family
            ).alias("_sig"),
        )
    )
    base = _cut_lineage(base, checkpoint_dir)
    cand = _band_candidates(
        base.select("_id", "_sig"),
        bands=bands,
        rows=rows,
        max_band_width=max_band_width,
        hash_family=hash_family,
        checkpoint_dir=checkpoint_dir,
    )
    joined = (
        cand.join(
            base.select(
                F.col("_id").alias("id_a"), F.col("_g").alias("_ga"),
                F.col("_n").alias("_na"), F.col("_sig").alias("_sa"),
            ),
            "id_a",
        )
        .join(
            base.select(
                F.col("_id").alias("id_b"), F.col("_g").alias("_gb"),
                F.col("_n").alias("_nb"), F.col("_sig").alias("_sb"),
            ),
            "id_b",
        )
    )
    # Cheap sketch prefilter before the exact intersect: low-r banding
    # admits many low-similarity candidates; the signature estimate
    # (integer compares over the checkpointed arrays) screens them out.
    # Margin = 4 std devs of the estimator (sqrt(τ(1-τ)/k) ≤ 0.5/√k),
    # so dropping a true pair at the threshold is negligible.
    margin = 2.0 / (num_hashes ** 0.5)
    screened = joined.filter(
        _est_jaccard(num_hashes) >= F.lit(threshold - margin)
    )
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb"))).cast("double")
    union = (F.col("_na") + F.col("_nb")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # raw-value filter (round only for output) — see ngram_jaccard_pairs
    return (
        screened.select("id_a", "id_b", jac.alias("_raw"))
        .filter(F.col("_raw") >= threshold)
        .select("id_a", "id_b", F.round(F.col("_raw"), 6).alias("jaccard"))
    )


# ------------------------------------------------------------ SimHash

def _hex16_to_long(h: Column) -> Column:
    """First-16-hex-chars → the long with that exact 64-bit pattern
    (two 8-hex halves; the high half's shift may wrap into the sign
    bit, which is precisely the bit pattern we want)."""
    return F.shiftleft(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), 32
    ).bitwiseOR(F.conv(F.substring(h, 9, 8), 16, 10).cast("long"))


def _token_hashes(col: Column, *, hash_family: str = "xxhash64") -> Column:
    """Per-distinct-token 64-bit hash — one string hash per token,
    shared by every SimHash bit below.  ``hash_family="md5"`` derives
    the 64 bits from the first 16 md5 hex chars, which DuckDB can
    reproduce nibble-by-nibble — the oracle-replicable flavor (see
    :func:`_gram_hashes`)."""
    _check_hash_family(hash_family)
    toks = F.array_distinct(tokens(F.lower(col)))
    if hash_family == "md5":
        return F.transform(
            toks, lambda t: _hex16_to_long(F.md5(t))
        )
    return F.transform(toks, lambda t: F.xxhash64(t))


def _simhash_from_hashes(
    hashes: Column, *, bits: int = 64, token_chunk: int = _UDF_TOKEN_CHUNK
) -> Column:
    """Pack the majority sign of each bit position into one long.
    bit j set ⟺ Σ±1 over tokens > 0 ⟺ 2·count(bit j set) > n_tokens.

    Evaluated as one vectorized Arrow pandas UDF over the token-hash
    arrays: the former pure-Catalyst form ran 64 higher-order
    ``size(filter(hs, getbit(h, j)))`` passes per document, and HOF
    lambdas are interpreted (not whole-stage-codegen), so the pack
    dominated the simhash scan (~1.4 s of the 1.6 s query at sf0.1).
    Here a whole Arrow batch of hash arrays is concatenated once,
    ``np.unpackbits`` produces the (tokens × 64) bit matrix,
    ``np.add.reduceat`` sums per document, and ``np.packbits`` re-packs
    the majority bits — memory-bandwidth bound instead of
    interpreter-bound, and only the hash arrays cross the JVM↔Python
    boundary.  Bit values are identical to the expression form: bit j
    set ⟺ 2·count(getbit(h, j)) > n (pinned by the md5 hashlib
    reference test), NULL token array → NULL fingerprint, empty
    array → 0."""
    if not (1 <= bits <= 64):
        raise ValueError(f"bits must be in 1..64: got {bits}")

    @F.pandas_udf("bigint")
    def _pack(arrs: "pd.Series") -> "pd.Series":
        import numpy as np

        n_rows = len(arrs)
        out = np.zeros(n_rows, dtype=np.int64)
        valid = np.zeros(n_rows, dtype=bool)
        parts: list = []
        lens: list = []
        rows_with_tokens: list = []
        for i, a in enumerate(arrs):
            if a is None:
                continue
            valid[i] = True
            aa = np.ascontiguousarray(a, dtype="<i8")
            if aa.size:
                parts.append(aa)
                lens.append(aa.size)
                rows_with_tokens.append(i)
        # Bound the transient (tokens × 64)-byte bit matrix: process
        # row slices of at most _UDF_TOKEN_CHUNK concatenated hashes
        # (~128 MB unpacked at the default) so a batch of very long
        # documents cannot allocate an executor-killing matrix — the
        # per-slice math is unchanged (reduceat segments never span
        # slices because slices split on row boundaries).
        lo = 0
        while lo < len(parts):
            hi = lo
            tok = 0
            while hi < len(parts) and (hi == lo or tok + lens[hi] <= token_chunk):
                tok += lens[hi]
                hi += 1
            allh = np.concatenate(parts[lo:hi])
            # (slice_tokens, 64) bit matrix, column j == getbit(h, j):
            # little-endian byte layout ('<i8' above) puts byte 0 = LSB,
            # and bitorder="little" puts bit 0 of each byte first.
            bit_mat = np.unpackbits(
                allh.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            lens_arr = np.asarray(lens[lo:hi], dtype=np.int64)
            starts = np.zeros(hi - lo, dtype=np.int64)
            np.cumsum(lens_arr[:-1], out=starts[1:])
            counts = np.add.reduceat(
                bit_mat, starts, axis=0, dtype=np.int64
            )
            majority = (2 * counts) > lens_arr[:, None]
            if bits < 64:
                majority[:, bits:] = False
            packed = (
                np.packbits(majority, axis=1, bitorder="little")
                .copy()
                .view("<i8")
                .ravel()
            )
            out[
                np.asarray(rows_with_tokens[lo:hi], dtype=np.int64)
            ] = packed
            lo = hi
        # A NULL token array (NULL text) must give a NULL fingerprint,
        # not 0: fingerprint 0 would stamp every NULL-text doc as a
        # mutual hamming-0 near-dup (the simhash analog of the minhash
        # no-shingle NULL-signature rule; pair generation filters NULL
        # fingerprints).
        result = pd.Series(out, dtype="Int64")
        result[~valid] = None
        return result

    return _pack(hashes)


def simhash(
    col: Column, *, bits: int = 64, hash_family: str = "xxhash64"
) -> Column:
    """64-bit SimHash over distinct tokens: majority vote per bit of the
    per-token hash, packed into a long.  One pass, no explode, no
    shuffle."""
    return _simhash_from_hashes(
        _token_hashes(col, hash_family=hash_family), bits=bits
    )


def _simhash_sigs(
    df: DataFrame, *, text_col: str, id_col: str, hash_family: str = "xxhash64"
) -> DataFrame:
    """(_id, _sh) SimHash fingerprints of ``df``.  Two-step projection:
    the packed fingerprint references the token-hash array once per
    bit, and higher-order lambdas are opaque to Catalyst CSE —
    materialize the hashes first or every bit would re-tokenize and
    re-hash the text."""
    return (
        spread(df)
        .select(
            F.col(id_col).alias("_id"),
            _token_hashes(F.col(text_col), hash_family=hash_family).alias("_th"),
        )
        .select("_id", _simhash_from_hashes(F.col("_th")).alias("_sh"))
    )


def simhash_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    checkpoint_dir: str | None = None,
    max_chunk_width: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into 4
    16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at least one chunk equal),
    self-join per chunk, verify exact hamming distance ≤ max_hamming.
    Output: (id_a, id_b, hamming).

    With the default ``max_chunk_width=None`` the result is exact AND
    complete (the pigeonhole guarantee).  At billion-doc scale a 16-bit
    chunk value is shared by ~n/65536 docs by chance alone, so every
    chunk bucket goes quadratic; ``max_chunk_width`` drops buckets
    wider than the cap before the self-join (pay-as-you-go broadcast
    anti-join, see :func:`_drop_hot_buckets`) at the cost of
    completeness for pairs whose only agreeing chunk was capped — at
    that scale, raise the chunk width (more bits) first and cap as the
    backstop."""
    sig = _cut_lineage(
        _simhash_sigs(
            df, text_col=text_col, id_col=id_col, hash_family=hash_family
        ),
        checkpoint_dir,
    )
    return _hamming_pairs(
        sig, max_hamming=max_hamming, max_chunk_width=max_chunk_width
    )


def hamming_pairs(
    sig: DataFrame,
    *,
    max_hamming: int = 3,
    max_chunk_width: int | None = None,
) -> DataFrame:
    """Generic 64-bit fingerprint near-dup tail shared by SimHash and
    any other hamming-space signature (e.g. an image perceptual hash):
    chunk-band the ``(_id, _sh)`` frame, self-join per chunk, verify
    exact hamming ≤ ``max_hamming``.  Exact and complete while
    ``max_hamming ≤ n_chunks - 1`` (pigeonhole over the 4×16-bit
    banding ⇒ ≤ 3) and the chunk cap is off."""
    return _hamming_pairs(
        sig, max_hamming=max_hamming, max_chunk_width=max_chunk_width
    )


def _simhash_chunks(sig: DataFrame) -> DataFrame:
    """Explode a (_id, _sh) fingerprint frame into its 4 16-bit chunks:
    (_id, _sh, _chunk, _cv) — the pigeonhole join key for hamming ≤ 3.
    NULL fingerprints (NULL-text docs) never chunk, mirroring the
    NULL-signature exclusion in the minhash band join."""
    sig = sig.filter(F.col("_sh").isNotNull())
    return sig.select(
        "_id",
        "_sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("_sh"), 16 * c).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("_chunk", "_cv"),
    )


def _hamming_pairs(
    sig: DataFrame,
    right: DataFrame | None = None,
    *,
    max_hamming: int,
    max_chunk_width: int | None,
) -> DataFrame:
    """Hamming pair core over (_id, _sh) frames: chunk-band, join on
    (chunk, value), verify exact hamming ≤ ``max_hamming``."""
    a, b = _pair_names(right)
    cand = (
        _bucket_join(
            _simhash_chunks(sig),
            None if right is None else _simhash_chunks(right),
            ("_chunk", "_cv"),
            max_chunk_width,
        )
        .select(
            F.col("x._id").alias(a),
            F.col("y._id").alias(b),
            F.col("x._sh").alias("_sa"),
            F.col("y._sh").alias("_sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        cand.select(a, b, hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    checkpoint_dir: str | None = None,
    max_chunk_width: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Incremental cross-corpus SimHash near-dup: (new_id, existing_id,
    hamming ≤ ``max_hamming``) pairs between a NEW batch and an EXISTING
    corpus — the hamming-side admission gate, with the new × existing
    contract of its minhash twin :func:`minhash_lsh_pairs_against`.
    ``max_chunk_width`` caps the EXISTING side's chunk buckets; None
    (default) keeps the pigeonhole guarantee of :func:`simhash_pairs`
    exact and complete."""

    def _sigs(d: DataFrame) -> DataFrame:
        return _cut_lineage(
            _simhash_sigs(
                d, text_col=text_col, id_col=id_col, hash_family=hash_family
            ),
            checkpoint_dir,
        )

    return _hamming_pairs(
        *_sides(_sigs, new, existing), max_hamming=max_hamming,
        max_chunk_width=max_chunk_width,
    )


def simhash_dedup_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    checkpoint_dir: str | None = None,
    max_chunk_width: int | None = None,
) -> DataFrame:
    """Admission gate on top of :func:`simhash_pairs_against`: the NEW
    docs whose fingerprint is within ``max_hamming`` of nothing in the
    existing corpus (anti-join on the flagged id set — the corpus
    itself never shuffles).  Output: (id_col) of admitted new docs."""
    flagged = simhash_pairs_against(
        new, existing, text_col=text_col, id_col=id_col,
        max_hamming=max_hamming, checkpoint_dir=checkpoint_dir,
        max_chunk_width=max_chunk_width,
    ).select(F.col("new_id").alias(id_col)).distinct()
    return new.select(id_col).join(flagged, on=id_col, how="left_anti")


# ------------------------------------------- embedding cosine near-dup

def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<double> columns — zip_with/aggregate,
    fully JVM-side.

    Degenerate inputs yield NULL, never a throw or a NaN: a zero-norm
    vector (ANSI division would abort the scan) and any NaN component
    (NaN passes ``> threshold`` filters and sorts FIRST under desc —
    it would outrank every real match).  NULL fails every threshold
    and is filtered by the top-k paths, so degenerate vectors are
    never near-duplicates of anything — pipelines catch byte-identical
    garbage (e.g. repeated all-zeros encoder output) with the EXACT
    digest gates that precede every embedding gate."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_a = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )
    norm_b = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )
    # try_divide: NULL on a zero denominator (ANSI would otherwise
    # throw and abort the scan), denominator evaluated once by
    # construction; the NaN wrap is bound because the when + value
    # sibling references would re-run the whole division (HOF
    # siblings are opaque to Catalyst CSE).
    return _bind(
        F.try_divide(dot, norm_a * norm_b),
        lambda c: F.when(~F.isnan(c), c),
    )


def winnowing_containment_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_fp_width: int | None = 10_000,
    checkpoint_dir: str | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Substring-level CONTAINMENT candidates via shared winnowing
    fingerprints: (id_a < id_b, shared, containment).

    Jaccard-style near-dup misses containment — a doc quoting 30% of
    another scores low Jaccard but is still a duplication relationship
    a curation pipeline must see (quotation farms, wrapper pages,
    licensing boilerplate).  Winnowing guarantees any shared token run
    of ≥ shingle + window − 1 tokens yields a shared fingerprint
    (text.winnowed_fingerprints), so substring overlap surfaces as
    shared-fingerprint count; ``containment`` = shared / min(|fp_a|,
    |fp_b|) normalizes by the smaller document.

    Scale: explode + self-join keyed on the fingerprint — O(collisions)
    like the LSH band join, with the same pay-as-you-go hot-bucket cap
    (``max_fp_width``) for fingerprints shared by half the corpus
    (licence headers).  Spark-side only (xxhash64): soundness is
    pytest-checked, not SQL-oracled."""
    return _winnowing_pairs(
        df, text_col=text_col, id_col=id_col, shingle=shingle, window=window,
        min_shared=min_shared, max_fp_width=max_fp_width,
        checkpoint_dir=checkpoint_dir, hash_family=hash_family,
    )


def _winnowing_pairs(
    df: DataFrame,
    right: DataFrame | None = None,
    *,
    text_col: str,
    id_col: str,
    shingle: int,
    window: int,
    min_shared: int,
    max_fp_width: int | None,
    checkpoint_dir: str | None,
    hash_family: str,
) -> DataFrame:
    """Winnowing-containment pair core: shared-fingerprint counts ≥
    ``min_shared`` over a fingerprint-keyed join, normalized by the
    smaller document's fingerprint count."""
    from sample_dms_s3_kinesis_spark.operators.text import (
        winnowed_fingerprints,
    )

    def _fps(d: DataFrame) -> DataFrame:
        return _cut_lineage(
            spread(d).select(
                F.col(id_col).alias("_id"),
                winnowed_fingerprints(
                    F.col(text_col), shingle=shingle, window=window,
                    hash_family=hash_family,
                ).alias("_fps"),
            ),
            checkpoint_dir,
        )

    def _exploded(f: DataFrame) -> DataFrame:
        return f.select("_id", F.explode("_fps").alias("_fp"))

    fl, fr = _sides(_fps, df, right)
    a, b = _pair_names(right)
    pairs = (
        _bucket_join(
            _exploded(fl), None if right is None else _exploded(fr),
            ("_fp",), max_fp_width,
        )
        # fingerprints are distinct within a doc, so each common
        # fingerprint contributes exactly one joined row per pair
        .groupBy(F.col("x._id").alias(a), F.col("y._id").alias(b))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        _per_side(pairs, (a, b), (fl, fr), F.size("_fps"), ("_na", "_nb"))
        .select(
            a,
            b,
            "shared",
            F.round(
                F.col("shared") / F.least(F.col("_na"), F.col("_nb")), 6
            ).alias("containment"),
        )
    )


def embedding_near_dup_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.99,
    broadcast_rows: int = BROADCAST_ROWS,
    broadcast: bool | None = None,
) -> DataFrame:
    """Incremental cross-corpus embedding near-dup: (new_id,
    existing_id, cosine ≥ τ) pairs between a NEW batch and an EXISTING
    corpus within a blocking key — the embedding-side admission gate.
    The NEW batch is the build side (a crawl batch is small next to the
    corpus), size-gated as in :func:`embedding_near_dup_pairs`, so the
    existing corpus only streams through the probe side.  ``broadcast``
    True/False pins the strategy and skips the sizing count."""
    return _embedding_pairs(
        new, existing, vec_col=vec_col, id_col=id_col, block_col=block_col,
        threshold=threshold, broadcast_rows=broadcast_rows,
        broadcast=broadcast,
    )


def embedding_dedup_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.99,
    broadcast_rows: int = BROADCAST_ROWS,
    broadcast: bool | None = None,
) -> DataFrame:
    """Admission gate on top of :func:`embedding_near_dup_against`: the
    NEW vectors whose cosine reaches ``threshold`` against nothing in
    the existing corpus.  Output: (id_col) of admitted new rows."""
    flagged = embedding_near_dup_against(
        new, existing, vec_col=vec_col, id_col=id_col, block_col=block_col,
        threshold=threshold, broadcast_rows=broadcast_rows,
        broadcast=broadcast,
    ).select(F.col("new_id").alias(id_col)).distinct()
    return new.select(id_col).join(flagged, on=id_col, how="left_anti")


# ---------------------------------- duplicate-cluster resolution (CC)

def connected_components(
    pairs: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    id_out: str = "id",
    cluster_out: str = "cluster_id",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Near-duplicate pair graph → duplicate clusters.

    Returns one row per node appearing in ``pairs``:
    ``(id_out, cluster_out)`` with ``cluster_out`` = the minimum node id
    in the node's connected component.  Singleton documents (no pair)
    are trivially their own cluster and are not emitted — survivor
    selection left-anti-joins the non-canonical members
    (see ``resolve_duplicates``).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).  Each
    round is two hash-partitioned groupBy+join passes over the edge
    list, and the round count is O(log² n) in the worst case —
    independent of component diameter.  That's the property that
    matters at 100 TB: naive min-label propagation needs O(diameter)
    rounds, and real near-dup graphs contain long chains (A≈B≈C≈…
    where the ends share nothing).  Every round shrinks edges toward
    (node → component-min) stars, so the shuffled volume is
    non-increasing; each iteration is cut from the lineage with an
    eager checkpoint so round k+1 doesn't recompute round k.  Pass
    ``checkpoint_dir`` on a real cluster: ``localCheckpoint`` blocks
    live on executors and a lost executor aborts the fixpoint loop —
    a reliable ``checkpoint()`` to HDFS/S3 survives it.

    ``driver_threshold``: edge graphs at or below this size (default
    100 000 edges — a few MB) are ``collect()``-ed and union-found on
    the DRIVER, skipping several rounds of distributed scheduling
    latency; above it the distributed star loop engages
    automatically.  The switch is logged (logger
    ``sample_dms_s3_kinesis_spark.dedup``), so a caller profiling the
    small case can see that a 100×-larger graph will take the other
    path.  Pass ``driver_threshold=0`` to force the distributed loop
    at any size.
    """
    # ids keep their INPUT type: every pair-producing operator is
    # id-type agnostic, and the star algorithm only needs an ORDERABLE
    # id (min labels compare fine for strings) — the former long cast
    # crashed ANSI mode for uuid/hash ids and silently dropped every
    # edge without it
    edges = _cut_lineage(
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct(),
        checkpoint_dir,
    )
    id_type = dict(edges.dtypes)["u"]

    # Size-gated driver fallback: near-dup pair graphs are usually
    # MUCH smaller than the corpus (they hold only the duplicated
    # slice), and below ``driver_threshold`` edges a driver-side
    # union-find finishes in milliseconds where the distributed loop
    # pays several Spark rounds of scheduling latency (measured ~2 s
    # at sf0.1 for a 25-edge graph).  The edge count is already
    # materialized by the localCheckpoint above, so the gate costs one
    # cheap count; the distributed O(log² n) path stays the engine of
    # record above the gate (pass ``driver_threshold=0`` to force it).
    if driver_threshold and edges.count() <= driver_threshold:
        _LOG.info(
            "connected_components: edge graph <= driver_threshold=%d, "
            "taking the driver union-find path (the distributed "
            "large-star/small-star loop engages above the gate)",
            driver_threshold,
        )
        parent: dict = {}

        def _find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in edges.collect():
            ru, rv = _find(row["u"]), _find(row["v"])
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        rows = [(n, _find(n)) for n in parent]
        return pairs.sparkSession.createDataFrame(
            rows, f"{id_out} {id_type}, {cluster_out} {id_type}"
        )

    def large_star(e: DataFrame) -> DataFrame:
        # Connect every neighbor v > u to m = min(Γ(u) ∪ {u}).
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("u"), F.col("_mv")).alias("m"))
        )
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # Orient edges larger→smaller; connect u and all its smaller
        # neighbors to m = min of those neighbors.
        directed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        nbr = directed.join(mins, "u").select(F.col("v").alias("n"), F.col("m"))
        own = mins.select(F.col("u").alias("n"), F.col("m"))
        return (
            nbr.union(own)
            .where(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def fingerprint(e: DataFrame) -> tuple:
        # Cheap set identity: count + xor of per-edge hashes (order-
        # insensitive, overflow-free under ANSI mode).
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        ).first()
        return (row["n"], row["x"])

    prev = None
    converged = False
    for i in range(max_iter):
        edges = _cut_lineage(small_star(large_star(edges)), checkpoint_dir)
        # Fingerprint every SECOND round: the comparison is a driver
        # action, and at the fixpoint consecutive rounds are identical,
        # so equality between checks i-2 and i still certifies
        # convergence — at worst one extra (tiny, already-converged)
        # round of compute for half the fingerprint jobs.
        if i % 2 == 1 or i == max_iter - 1:
            fp = fingerprint(edges)
            if fp == prev:
                converged = True
                break
            prev = fp
    if not converged:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")

    # At the fixpoint the edge list is exactly (member → component-min).
    members = edges.select(
        F.col("u").alias(id_out), F.col("v").alias(cluster_out)
    )
    roots = edges.select(F.col("v").alias(id_out)).distinct().select(
        F.col(id_out), F.col(id_out).alias(cluster_out)
    )
    return members.unionByName(roots)


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Survivor frame: one canonical doc (min id) per near-dup cluster,
    singletons untouched.  The full corpus is never shuffled — only the
    pair-derived drop list (non-canonical members, a small fraction of
    the corpus) moves, and AQE turns the anti-join into a broadcast
    when the drop list is small enough."""
    comp = connected_components(
        pairs, src_col=src_col, dst_col=dst_col, checkpoint_dir=checkpoint_dir
    )
    drop = comp.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


# ---------------------------------------------- embedding near-dup pairs

def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.99,
    broadcast_rows: int = BROADCAST_ROWS,
    broadcast: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key
    (pre-clustered label / IVF cell), (id_a < id_b, cosine ≥ τ).
    The block join bounds pair count; at scale the blocking key comes
    from a coarse quantizer (see similarity.ivf_assign).

    ``broadcast`` True/False pins the pair-join strategy and skips the
    eager sizing ``count()``; None (default) size-gates."""
    return _embedding_pairs(
        df, vec_col=vec_col, id_col=id_col, block_col=block_col,
        threshold=threshold, broadcast_rows=broadcast_rows,
        broadcast=broadcast,
    )


def _embedding_pairs(
    df: DataFrame,
    right: DataFrame | None = None,
    *,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float,
    broadcast_rows: int,
    broadcast: bool | None,
) -> DataFrame:
    """Embedding-cosine pair core within a blocking key.  The left
    frame sizes the build side — the one frame of the self-join, the
    NEW batch of the probe (a crawl batch is small next to the corpus,
    which then only streams through the probe side)."""
    build_rows = df.count() if broadcast is None else None
    # Per-VECTOR norm computed once per side, not once per pair: the
    # cosine's two norm folds are interpreted HOF passes, and inside
    # the pair join they ran O(pairs) times.  Same fold expression on
    # the same vector → bit-identical value, so cosine outputs are
    # unchanged; only the dot product remains per-pair work.
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("_v"), lambda x: x * x),
            F.lit(0.0),
            lambda s, v: s + v,
        )
    )

    def _base(d: DataFrame) -> DataFrame:
        return spread(d).select(
            F.col(id_col).alias("_id"),
            F.col(block_col).alias("_blk"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ).withColumn("_n", norm)

    lbase, rbase = _sides(_base, df, right)
    a, b = _pair_names(right)
    left = lbase.select(
        "_blk", F.col("_id").alias(a),
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    other = rbase.select(
        "_blk", F.col("_id").alias(b),
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    # Size-gated: broadcast a bounded build side, salted shuffle join
    # beyond it (see _block_pair_join).
    if right is None:
        pairs = _block_pair_join(
            left, other, build_rows,
            broadcast_rows=broadcast_rows, broadcast=broadcast,
        ).filter(F.col(a) < F.col(b))
    else:
        pairs = _block_pair_join(
            other, left, build_rows, probe_id=b,
            broadcast_rows=broadcast_rows, broadcast=broadcast,
        )
    dot = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # same NULL/NaN contract as cosine_similarity (see its docstring)
    cos = _bind(
        F.try_divide(dot, F.col("_na") * F.col("_nb")),
        lambda c: F.when(~F.isnan(c), c),
    )
    # raw-value filter (round only for output) — see ngram_jaccard_pairs
    return (
        pairs.select(a, b, cos.alias("_raw"))
        .filter(F.col("_raw") >= threshold)
        .select(a, b, F.round(F.col("_raw"), 6).alias("cosine"))
    )


# ------------------------------------------------ persisted minhash index

class MinhashIndex:
    """Persisted minhash signatures of a corpus — the durable half of
    the every-crawl admission gate.

    :func:`minhash_lsh_pairs_against` recomputes the EXISTING corpus's
    signatures on every call; at 100 TB that shingle+minhash pass over
    all corpus text dominates the gate's cost and never changes between
    crawls.  This index computes it once, persists the fixed-width
    ``(id, signature)`` table (``num_hashes`` longs per doc — ~1 KB at
    k=128, independent of document size), and serves each batch's gate
    from storage: per crawl you pay signatures for the NEW batch plus a
    band join, never a corpus re-scan.  ``add`` folds admitted docs in,
    so the index grows with the corpus it guards.

    Same banding/estimation code path as the recompute operators
    (`_minhash_pairs`), so gate decisions are identical
    — pytest pins exact equality with `minhash_lsh_pairs_against`.
    """

    def __init__(
        self,
        signatures: DataFrame,
        *,
        num_hashes: int,
        bands: int,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        if num_hashes % bands != 0:
            raise ValueError(
                f"bands ({bands}) must divide num_hashes ({num_hashes})"
            )
        self.signatures = signatures  # (_id, _sig)
        self.num_hashes = num_hashes
        self.bands = bands
        self.id_col = id_col
        self.text_col = text_col

    def _sigs(self, corpus: DataFrame) -> DataFrame:
        return _minhash_sigs(
            corpus, text_col=self.text_col, id_col=self.id_col,
            num_hashes=self.num_hashes,
        )

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 128,
        bands: int = 32,
        checkpoint_dir: str | None = None,
    ) -> "MinhashIndex":
        idx = cls(
            None,  # type: ignore[arg-type]
            num_hashes=num_hashes,
            bands=bands,
            id_col=id_col,
            text_col=text_col,
        )
        idx.signatures = _cut_lineage(idx._sigs(corpus), checkpoint_dir)
        return idx

    def pairs_against(
        self,
        new: DataFrame,
        *,
        threshold: float = 0.8,
        max_band_width: int | None = 10_000,
        checkpoint_dir: str | None = None,
    ) -> DataFrame:
        """(new_id, existing_id, est_jaccard ≥ τ) — the new batch's
        near-dup matches into the indexed corpus, with only the batch
        paying signature computation."""
        return _minhash_pairs(
            _cut_lineage(self._sigs(new), checkpoint_dir), self.signatures,
            num_hashes=self.num_hashes, bands=self.bands, threshold=threshold,
            max_band_width=max_band_width, checkpoint_dir=checkpoint_dir,
        )

    def admit(
        self,
        new: DataFrame,
        *,
        threshold: float = 0.8,
        max_band_width: int | None = 10_000,
        checkpoint_dir: str | None = None,
    ) -> DataFrame:
        """New docs that are NOT near-dups of anything indexed (the
        admission decision): anti-join of the batch against its match
        list — only the (small) match list shuffles the batch."""
        matched = (
            self.pairs_against(
                new,
                threshold=threshold,
                max_band_width=max_band_width,
                checkpoint_dir=checkpoint_dir,
            )
            .select(F.col("new_id").alias(self.id_col))
            .distinct()
        )
        return new.join(matched, on=self.id_col, how="left_anti")

    def add(
        self,
        admitted: DataFrame,
        *,
        checkpoint_dir: str | None = None,
    ) -> "MinhashIndex":
        """Fold an admitted batch's signatures into the index (ids
        already present keep their existing signature — idempotent
        under replay).  Returns a NEW index; ``save`` persists it."""
        fresh = self._sigs(admitted).join(
            self.signatures.select("_id"), on="_id", how="left_anti"
        )
        merged = _cut_lineage(
            self.signatures.unionByName(fresh), checkpoint_dir
        )
        return MinhashIndex(
            merged,
            num_hashes=self.num_hashes,
            bands=self.bands,
            id_col=self.id_col,
            text_col=self.text_col,
        )

    # -- persistence ---------------------------------------------------

    def save(self, path: str) -> None:
        path = path.rstrip("/")
        self.signatures.write.mode("overwrite").parquet(f"{path}/signatures")
        meta = self.signatures.sparkSession.createDataFrame(
            [(self.num_hashes, self.bands, self.id_col, self.text_col)],
            "num_hashes int, bands int, id_col string, text_col string",
        )
        meta.coalesce(1).write.mode("overwrite").json(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "MinhashIndex":
        path = path.rstrip("/")
        meta = spark.read.json(f"{path}/meta").collect()[0]
        return cls(
            spark.read.parquet(f"{path}/signatures"),
            num_hashes=int(meta["num_hashes"]),
            bands=int(meta["bands"]),
            id_col=meta["id_col"],
            text_col=meta["text_col"],
        )


# ---------------------------------------------- prefix-filter Jaccard join

def prefix_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    broadcast_freq: bool | None = None,
    shingle: int = 1,
) -> DataFrame:
    """EXACT token-set Jaccard similarity join via prefix filtering
    (the ppjoin family: Chaudhuri et al. SSJoin/ICDE'06, Xiao et al.
    WWW'08) — every pair with ``J(A,B) ≥ threshold`` and nothing else,
    without LSH's recall loss and without the O(n²) all-pairs join.

    Candidate lemma: sort every doc's distinct tokens by global
    rarity (document frequency asc, token asc — rare tokens first);
    if ``J(A,B) ≥ τ`` then ``|A∩B| ≥ ⌈τ·max(|A|,|B|)⌉``, and two sets
    with overlap ≥ α must collide within their first ``|X| - α + 1``
    sorted elements — so docs sharing NO token in their length-
    dependent prefixes cannot reach the threshold and never pair.
    Because prefixes order by rarity, the join key is a RARE token:
    bucket widths stay small exactly where LSH banding needs a width
    cap.  Candidates then verify with an exact intersection count, so
    the output is exact — the prefix only bounds how many pairs pay
    verification.

    Plan: distinct (id, token) explode → doc-frequency aggregate
    (AQE-broadcast back onto the token stream) → per-doc sort +
    prefix slice (array ops, no shuffle) → prefix-token equi-join →
    intersection count over candidate docs' full token sets →
    ``inter / (|A|+|B| - inter) ≥ τ``.  Shuffles carry tokens and ids
    only; the verification join touches candidate docs, not the
    corpus.  Output: (id_a < id_b, jaccard) rounded to 6.
    """
    return _prefix_jaccard_pairs(
        df, text_col=text_col, id_col=id_col, threshold=threshold,
        shingle=shingle, broadcast_freq=broadcast_freq,
    )


def _prefix_jaccard_pairs(
    df: DataFrame,
    right: DataFrame | None = None,
    *,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle: int,
    broadcast_freq: bool | None = None,
) -> DataFrame:
    """Prefix-filter Jaccard pair core (plan: see
    :func:`prefix_jaccard_pairs`).  Prefix lemma requirement: BOTH
    sides sort their tokens by the SAME global order, so document
    frequencies count the one frame, or new ∪ existing (at 100 TB,
    persist the existing side's frequency table and merge the batch's
    counts instead of recounting)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # set elements: single lowercased tokens (default) or the SAME
    # n-token shingles the minhash stack fingerprints (shingle=n) —
    # the latter makes this the exact ground truth for
    # :func:`lsh_quality_report`'s precision/recall measurement.
    elems = (
        F.array_distinct(tokens(F.lower(F.col(text_col))))
        if shingle <= 1
        else token_ngrams(F.col(text_col), shingle)
    )

    def _tok(d: DataFrame) -> DataFrame:
        return (
            spread(d)
            .select(F.col(id_col).alias("_id"), F.explode(elems).alias("_tok"))
            .filter(F.col("_tok") != "")
        )

    tl = _tok(df)
    tr = None if right is None else _tok(right)
    freq = (tl if tr is None else tl.unionByName(tr)).groupBy("_tok").agg(
        F.count(F.lit(1)).alias("_df")
    )
    if broadcast_freq:
        freq = F.broadcast(freq)

    def _prefix(tok: DataFrame) -> tuple[DataFrame, DataFrame]:
        # per-doc rarity-sorted token array; struct sort = (_df asc,
        # _tok asc)
        per_doc = tok.join(freq, on="_tok").groupBy("_id").agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_tok")))
            ).alias("_arr"),
            F.count(F.lit(1)).alias("_n"),
        )
        # prefix length p = n - ceil(τ·n) + 1 (epsilon keeps a float
        # rounding error from SHORTENING the prefix — longer is only
        # cost, shorter loses pairs)
        p = F.col("_n") - F.ceil(
            F.col("_n") * F.lit(threshold) - F.lit(1e-9)
        ).cast("int") + F.lit(1)
        prefix = per_doc.select(
            "_id",
            "_n",
            F.explode(
                F.transform(F.slice("_arr", 1, p), lambda s: s["_tok"])
            ).alias("_tok"),
        )
        # the verification arrays reuse the rarity-sorted frame
        arrs = per_doc.select(
            "_id", F.transform("_arr", lambda s: s["_tok"]).alias("_toks")
        )
        return prefix, arrs

    (pl, al), (pr, ar) = _sides(_prefix, tl, tr)
    a, b = _pair_names(right)
    cand = (
        _bucket_join(pl, None if right is None else pr, ("_tok",))
        .select(
            F.col("x._id").alias(a),
            F.col("x._n").alias("_na"),
            F.col("y._id").alias(b),
            F.col("y._n").alias("_nb"),
        )
        .distinct()
    )
    # exact verification: intersect the two docs' (distinct) token
    # arrays per candidate pair — two joins carrying one ~|tokens|
    # array per doc and a JVM array_intersect, instead of exploding
    # candidates × tokens into a row stream (~25% faster at sf0.1 on
    # the synthetic tiny-vocab corpus, where 1.5% of ALL pairs qualify
    # and any exact join is output-bound; the gap widens on real
    # heavy-tailed vocabularies where rare-token prefixes make
    # candidates sparse).
    verified = _per_side(
        cand, (a, b), (al, ar), F.col("_toks"), ("_ta", "_tb")
    ).withColumn(
        "_inter", F.size(F.array_intersect(F.col("_ta"), F.col("_tb")))
    )
    jac = F.col("_inter").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_inter")
    ).cast("double")
    return (
        verified.select(a, b, F.round(jac, 6).alias("jaccard"))
        .filter(jac >= F.lit(threshold))
    )


def lsh_quality_report(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    num_hashes: int = 128,
    bands: int = 32,
    max_band_width: int | None = 10_000,
    shingle: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Calibration harness for the approximate near-dup stack: measure
    MinHash+LSH's precision/recall against the EXACT similarity-join
    ground truth (:func:`prefix_jaccard_pairs` over the SAME n-token
    shingle sets the minhash fingerprints — comparing against
    single-token Jaccard would measure a different similarity
    function) at the same threshold — the number a pipeline owner
    needs before trusting (num_hashes, bands) on a new corpus, and the
    honest answer to "what does the banding cap cost me HERE?".

    Run it on a sampled slice of the real corpus (the exact join is
    the expensive side); the measured rates transfer to the full run
    because both operators' decision rules are per-pair.

    Returns ONE row: (exact_pairs, lsh_pairs, true_positive,
    precision, recall) — precision/recall of the LSH pair set against
    the exact pair set, NULL when the denominator is zero.  The
    agreement join is on (id_a, id_b): both operators emit id_a < id_b,
    so pair identity is exact.
    """
    exact = prefix_jaccard_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        shingle=shingle,
    ).select("id_a", "id_b")
    approx = minhash_lsh_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_band_width=max_band_width,
        hash_family=hash_family,
    ).select("id_a", "id_b")
    return _agreement_report(exact, approx, "lsh_pairs")


def _agreement_report(
    exact: DataFrame, approx: DataFrame, approx_name: str
) -> DataFrame:
    """ONE row (exact_pairs, <approx_name>, true_positive, precision,
    recall) of an approximate (id_a, id_b) pair set against the exact
    one; NULL rates when a denominator is zero."""
    e, a = _cut_lineage(exact), _cut_lineage(approx)
    tp = e.join(a, on=["id_a", "id_b"]).count()
    n_e, n_a = e.count(), a.count()
    return exact.sparkSession.createDataFrame(
        [
            (
                n_e,
                n_a,
                tp,
                round(tp / n_a, 6) if n_a else None,
                round(tp / n_e, 6) if n_e else None,
            )
        ],
        f"exact_pairs long, {approx_name} long, true_positive long, "
        "precision double, recall double",
    )


# ------------------------------------------- exact term-vector cosine join

def token_cosine_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_token_df: int | None = None,
    binary: bool = False,
) -> DataFrame:
    """EXACT cosine similarity join over sparse TERM vectors, computed
    from a self-join of the (doc, token, count) matrix on the token —
    only docs SHARING a token ever pair and the shuffle key is the
    token, never a doc pair.  ``binary=False`` (default) uses term
    FREQUENCIES; ``binary=True`` uses 0/1 incidence — the set cosine
    (Ochiai) that :func:`simhash` approximates, since its majority
    vote runs over DISTINCT tokens.

    Integer math until the final division: counts and dot products are
    exact longs, the norms' sqrt and the division happen once per pair
    — cross-engine bit-identical given the same counts (the oracle is
    the same sparse join in SQL).

    ``max_token_df`` drops token classes appearing in more than that
    many documents BEFORE the pair join (the stop-token analogue of
    the LSH band cap: a token shared by w docs emits w² pair terms;
    dropping it LOWERS dot products, so with the cap armed the join
    under-reports cosine for pairs whose only shared tokens are
    stop-tokens — exactness holds only with the cap off).

    Output: ``(id_a < id_b, cosine ≥ τ)`` rounded to 6.
    """
    return _token_cosine_pairs(
        df, text_col=text_col, id_col=id_col, threshold=threshold,
        max_token_df=max_token_df, binary=binary,
    )


def _token_cosine_pairs(
    df: DataFrame,
    right: DataFrame | None = None,
    *,
    text_col: str,
    id_col: str,
    threshold: float,
    max_token_df: int | None,
    binary: bool,
) -> DataFrame:
    """Term-vector cosine pair core: dot products from a token-keyed
    join of sparse (doc, token, count) matrices, exact integer math
    until the final division."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

    def _counts(d: DataFrame) -> DataFrame:
        return (
            spread(d)
            .select(
                F.col(id_col).alias("_id"),
                F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
            )
            .filter(F.col("_tok") != "")
            .groupBy("_id", "_tok")
            .agg(
                (
                    F.lit(1).cast("long") if binary else F.count(F.lit(1))
                ).alias("_c")
            )
        )

    cl = _counts(df)
    cr = None if right is None else _counts(right)
    if max_token_df is not None and cr is None:
        cl = _drop_hot_buckets(cl, max_token_df, keys=("_tok",))
    elif max_token_df is not None:
        # doc frequency over BOTH sides (the hazard grows with the
        # corpus); a hot token drops from each side
        hot = F.broadcast(
            _hot_buckets(cl.unionByName(cr), max_token_df, ("_tok",))
        )
        cl = cl.join(hot, ["_tok"], "left_anti")
        cr = cr.join(hot, ["_tok"], "left_anti")

    def _norms(c: DataFrame) -> DataFrame:
        return c.groupBy("_id").agg(
            F.sqrt(F.sum(F.col("_c") * F.col("_c")).cast("double")).alias("_n")
        )

    a, b = _pair_names(right)
    dots = (
        _bucket_join(cl, cr, ("_tok",))
        .groupBy(F.col("x._id").alias(a), F.col("y._id").alias(b))
        .agg(F.sum(F.col("x._c") * F.col("y._c")).alias("_dot"))
    )
    sides = _sides(_norms, cl, cr)
    cos = F.col("_dot").cast("double") / (F.col("_na") * F.col("_nb"))
    return (
        _per_side(dots, (a, b), sides, F.col("_n"), ("_na", "_nb"))
        .select(a, b, F.round(cos, 6).alias("cosine"))
        .filter(cos >= F.lit(threshold))
    )


def simhash_quality_report(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    threshold: float = 0.99,
    max_chunk_width: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash calibration against the EXACT term-vector cosine join
    (:func:`token_cosine_pairs`) — the hamming-side twin of
    :func:`lsh_quality_report`.  The rule of thumb links the dials:
    a 64-bit simhash hamming distance ``h`` estimates an angle of
    ``π·h/64``, so ``max_hamming=3`` targets pairs with cosine ≳
    ``cos(3π/64) ≈ 0.989`` — pass the ``threshold`` you actually care
    about and read precision/recall at that operating point.

    Returns ONE row: (exact_pairs, simhash_pairs, true_positive,
    precision, recall); NULL rates when a denominator is zero."""
    exact = token_cosine_pairs(
        df, text_col=text_col, id_col=id_col, threshold=threshold,
        binary=True,  # simhash votes over DISTINCT tokens
    ).select("id_a", "id_b")
    approx = simhash_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        max_hamming=max_hamming,
        max_chunk_width=max_chunk_width,
        hash_family=hash_family,
    ).select("id_a", "id_b")
    return _agreement_report(exact, approx, "simhash_pairs")


# ------------------------------------------------ persisted simhash index

class SimhashIndex:
    """Persisted SimHash fingerprints — the hamming-side twin of
    :class:`MinhashIndex`, at 8 BYTES per document (one packed long vs
    k longs for minhash): the cheapest durable near-dup index this
    engine offers, the right one when the corpus is fingerprinted by
    simhash anyway.  Same banding tail as the recompute operator
    (`_hamming_pairs`), so gate decisions are identical by
    construction."""

    def __init__(
        self,
        signatures: DataFrame,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.signatures = signatures  # (_id, _sh)
        self.id_col = id_col
        self.text_col = text_col

    def _sigs(self, corpus: DataFrame) -> DataFrame:
        return _simhash_sigs(corpus, text_col=self.text_col, id_col=self.id_col)

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        checkpoint_dir: str | None = None,
    ) -> "SimhashIndex":
        idx = cls(None, id_col=id_col, text_col=text_col)  # type: ignore[arg-type]
        idx.signatures = _cut_lineage(idx._sigs(corpus), checkpoint_dir)
        return idx

    def pairs_against(
        self,
        new: DataFrame,
        *,
        max_hamming: int = 3,
        max_chunk_width: int | None = None,
        checkpoint_dir: str | None = None,
    ) -> DataFrame:
        return _hamming_pairs(
            _cut_lineage(self._sigs(new), checkpoint_dir), self.signatures,
            max_hamming=max_hamming, max_chunk_width=max_chunk_width,
        )

    def admit(
        self,
        new: DataFrame,
        *,
        max_hamming: int = 3,
        max_chunk_width: int | None = None,
        checkpoint_dir: str | None = None,
    ) -> DataFrame:
        matched = (
            self.pairs_against(
                new,
                max_hamming=max_hamming,
                max_chunk_width=max_chunk_width,
                checkpoint_dir=checkpoint_dir,
            )
            .select(F.col("new_id").alias(self.id_col))
            .distinct()
        )
        return new.join(matched, on=self.id_col, how="left_anti")

    def add(
        self,
        admitted: DataFrame,
        *,
        checkpoint_dir: str | None = None,
    ) -> "SimhashIndex":
        fresh = self._sigs(admitted).join(
            self.signatures.select("_id"), on="_id", how="left_anti"
        )
        return SimhashIndex(
            _cut_lineage(self.signatures.unionByName(fresh), checkpoint_dir),
            id_col=self.id_col,
            text_col=self.text_col,
        )

    def save(self, path: str) -> None:
        path = path.rstrip("/")
        self.signatures.write.mode("overwrite").parquet(f"{path}/signatures")
        meta = self.signatures.sparkSession.createDataFrame(
            [(self.id_col, self.text_col)], "id_col string, text_col string"
        )
        meta.coalesce(1).write.mode("overwrite").json(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "SimhashIndex":
        path = path.rstrip("/")
        meta = spark.read.json(f"{path}/meta").collect()[0]
        return cls(
            spark.read.parquet(f"{path}/signatures"),
            id_col=meta["id_col"],
            text_col=meta["text_col"],
        )


def prefix_jaccard_pairs_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle: int = 1,
) -> DataFrame:
    """EXACT incremental similarity gate: every (new, existing) pair
    with token-set Jaccard ≥ τ — the admission gate with NO recall
    loss (the approximate twins are :func:`minhash_lsh_pairs_against` /
    :func:`simhash_pairs_against`; the self-join form is
    :func:`prefix_jaccard_pairs`).  Both sides rank tokens by document
    frequency over the UNION of the two corpora, as the prefix lemma
    requires.  Output: (new_id, existing_id, jaccard ≥ τ).
    """
    return _prefix_jaccard_pairs(
        new, existing, text_col=text_col, id_col=id_col, threshold=threshold,
        shingle=shingle,
    )


def token_cosine_pairs_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_token_df: int | None = None,
    binary: bool = False,
) -> DataFrame:
    """EXACT incremental term-vector cosine gate: every (new, existing)
    pair with cosine ≥ τ — the bag-of-words twin of
    :func:`prefix_jaccard_pairs_against`, and the exact ground truth
    for an incremental simhash gate.  ``max_token_df`` measures token
    frequency over both sides and drops hot tokens from each, trading
    exactness as documented on :func:`token_cosine_pairs`.
    Output: (new_id, existing_id, cosine ≥ τ)."""
    return _token_cosine_pairs(
        new, existing, text_col=text_col, id_col=id_col, threshold=threshold,
        max_token_df=max_token_df, binary=binary,
    )


def winnowing_containment_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_fp_width: int | None = 10_000,
    checkpoint_dir: str | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Incremental CONTAINMENT gate: (new_id, existing_id, shared,
    containment) for new docs sharing ≥ ``min_shared`` winnowed
    fingerprints with an existing-corpus doc — catches the crawl page
    QUOTING 30% of an already-admitted document, which every
    Jaccard/cosine gate scores low.  Probe form of
    :func:`winnowing_containment_pairs`, with the hot-fingerprint cap
    on the EXISTING side; ``hash_family="md5"`` makes it
    DuckDB-replicable.
    """
    return _winnowing_pairs(
        new, existing, text_col=text_col, id_col=id_col, shingle=shingle,
        window=window, min_shared=min_shared, max_fp_width=max_fp_width,
        checkpoint_dir=checkpoint_dir, hash_family=hash_family,
    )


def edit_distance_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    q: int = 3,
    prefix_len: int | None = None,
) -> DataFrame:
    """Exact edit-distance similarity join: all pairs with
    ``levenshtein(key_a, key_b) <= k`` where the key is the (optionally
    ``prefix_len``-truncated) text — the string-similarity member of
    the exact-join family (Jaccard: ``prefix_jaccard_pairs``, cosine:
    ``token_cosine_pairs``).

    Lossless count-filter plan (Gravano et al. q-gram join): one edit
    destroys at most ``q`` positional q-grams, so ed ≤ k implies the
    q-gram MULTISETS share ≥ max(|Ga|,|Gb|) − k·q members.  Candidates
    come from an equi-join on (gram, occurrence-index) — multiset
    intersection as a plain count — plus the |len_a − len_b| ≤ k
    bound; only candidates pay the verify ``levenshtein``.  Strings
    with fewer than k·q+1 grams (shorter than ~q(k+1) chars) cannot be
    count-filtered and take separate length-banded passes; the short
    ROW set is corpus-sized (only the distinct length space < k·q + q
    is bounded), so each pass is an equi HASH join on an exploded
    length band (len−k..len+k vs exact length), never a
    nested-loop theta join.  The occurrence index is a row_number
    windowed by (id, gram):
    the partition key contains the document id, so hyper-common grams
    cannot concentrate on one reducer.

    Output: (id_a, id_b, distance), id_a < id_b, distance ≤ k.
    """
    return _edit_distance_pairs(
        df, text_col=text_col, id_col=id_col, k=k, q=q, prefix_len=prefix_len,
    )


def _edit_distance_pairs(
    df: DataFrame,
    right: DataFrame | None = None,
    *,
    text_col: str,
    id_col: str,
    k: int,
    q: int,
    prefix_len: int | None,
) -> DataFrame:
    """Edit-distance pair core (plan: see :func:`edit_distance_pairs`).
    The incremental form names its ids (id_new, id_existing)."""
    a, b = ("id_a", "id_b") if right is None else ("id_new", "id_existing")
    min_grams = k * q  # count filter powerless at or below this

    def _prep(d: DataFrame) -> tuple[DataFrame, ...]:
        key = F.col(text_col)
        if prefix_len is not None:
            key = F.substring(key, 1, prefix_len)
        base = spread(d).select(
            F.col(id_col).alias("_id"), key.alias("_k"), F.length(key).alias("_l")
        ).withColumn("_ng", F.greatest(F.col("_l") - (q - 1), F.lit(0)))
        long_side = base.filter(F.col("_ng") > min_grams)
        grams = long_side.select(
            "_id",
            "_l",
            "_ng",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("_ng") - 1),
                    lambda i: F.col("_k").substr(i + 1, F.lit(q)),
                )
            ).alias("_pos", "_g"),
        )
        occ_w = Window.partitionBy("_id", "_g").orderBy("_pos")
        grams = grams.withColumn("_occ", F.row_number().over(occ_w))
        return base, long_side, base.filter(F.col("_ng") <= min_grams), grams

    (bl, ll, sl, gl), (br, _, sr, gr) = _sides(_prep, df, right)

    def _ordered(pairs: DataFrame) -> DataFrame:
        # the self-join emits each unordered pair once
        return pairs.filter(F.col(a) < F.col(b)) if right is None else pairs

    def _within_k(pairs: DataFrame) -> DataFrame:
        return pairs.select(
            a, b, F.levenshtein("_ka", "_kb").alias("distance")
        ).filter(F.col("distance") <= k)

    shared = (
        _ordered(
            gl.select(
                F.col("_id").alias(a), F.col("_l").alias("_la"),
                F.col("_ng").alias("_nga"), "_g", "_occ",
            ).join(
                gr.select(
                    F.col("_id").alias(b), F.col("_l").alias("_lb"),
                    F.col("_ng").alias("_ngb"), "_g", "_occ",
                ),
                on=["_g", "_occ"],
            )
        )
        .filter(F.abs(F.col("_la") - F.col("_lb")) <= k)
        .groupBy(a, b, "_nga", "_ngb")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(
            F.col("_c") >= F.greatest("_nga", "_ngb") - F.lit(min_grams)
        )
        .select(a, b)
    )
    long_pairs = _within_k(
        _per_side(shared, (a, b), (bl, br), F.col("_k"), ("_ka", "_kb"))
    )

    # Short strings: too few grams for the count bound.  The short ROW
    # set is corpus-sized (every doc shorter than ~q(k+1) chars lands
    # here); only the distinct LENGTH space is bounded (< k·q + q).
    # So each pass must be an equi hash join, never a theta-only
    # broadcast-nested-loop: a short row explodes to its 2k+1
    # admissible partner lengths (len−k..len+k) and equi-joins that
    # band against the partner side's exact length — |Δlen| ≤ k as a
    # hash key.  Pass 1: left shorts × every right row; pass 2: left
    # longs × right shorts, banding the shorts in the self-join and the
    # NEW batch in the probe, so the corpus side is never multiplied.
    def _banded(side: DataFrame, i: str, key: str) -> DataFrame:
        return side.select(
            F.col("_id").alias(i), F.col("_k").alias(key),
            F.explode(
                F.sequence(F.col("_l") - k, F.col("_l") + k)
            ).alias("_lband"),
        )

    def _exact(side: DataFrame, i: str, key: str) -> DataFrame:
        return side.select(
            F.col("_id").alias(i), F.col("_k").alias(key),
            F.col("_l").alias("_lband"),
        )

    def _short_pass(x: DataFrame, y: DataFrame) -> DataFrame:
        return _within_k(_ordered(x.join(y, on="_lband")))

    short_pairs = _short_pass(_banded(sl, a, "_ka"), _exact(br, b, "_kb"))
    if right is None:
        short_pairs2 = _short_pass(_exact(ll, a, "_ka"), _banded(sr, b, "_kb"))
    else:
        short_pairs2 = _short_pass(_banded(ll, a, "_ka"), _exact(sr, b, "_kb"))
    return long_pairs.unionByName(short_pairs).unionByName(short_pairs2).distinct()


def edit_distance_pairs_against(
    new: DataFrame,
    existing: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    q: int = 3,
    prefix_len: int | None = None,
) -> DataFrame:
    """Incremental twin of :func:`edit_distance_pairs` — the
    string-similarity admission gate: every (new, existing) pair with
    ``levenshtein ≤ k``, by the same lossless q-gram count filter and
    length-banded short passes, joining NEW against EXISTING only.

    Output: (id_new, id_existing, distance), distance ≤ k.
    """
    return _edit_distance_pairs(
        new, existing, text_col=text_col, id_col=id_col, k=k, q=q,
        prefix_len=prefix_len,
    )
