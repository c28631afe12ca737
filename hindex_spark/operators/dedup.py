"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the point of each variant):
  * exact: one hash-groupBy on the content hash — a single shuffle keyed
    by md5, no full-text comparison;
  * n-gram Jaccard: inverted-index self-join on shared tokens — cost is
    sum over tokens of df(token)^2, fine for moderate fan-out; the exact
    baseline the approximate methods are checked against;
  * MinHash+LSH: signatures are one explode + one groupBy; banding turns
    the quadratic pair search into an equi-join on band buckets — the
    100 TB path (cost ~ candidates, not pairs);
  * SimHash: one 32-bit value per doc; near-dup = Hamming<=k on a
    self-join (blocked by band in production; exact here);
  * embedding cosine: blocked self-join (label/bucket) + vectorized dot.

The blocked searches — ``lsh_candidate_pairs``/``minhash_dedup_pairs``,
``simhash_pairs``, ``minhash_join``, ``DedupState.dedup_batch``
(operators/dedup_state.py) and the edit-distance linkage
(operators/linkage.py) — share one core: block docs into buckets, cap
hot buckets (``_valve``, the skew valve), expand the pairs inside each
bucket (``_bucket_pairs``), then verify every pair exactly
(``_jaccard_verify`` over unit arrays; SimHash and linkage verify their
own distance).

Two unit-hash families feed the signatures (``hash_fn``):
  * ``md5`` — the default and the oracle family: h(unit) = first 15 hex
    digits of md5 as int, reduced mod MERSENNE31, so the DuckDB oracle
    reproduces every signature bit-for-bit;
  * ``xxhash64`` — the production family: pmod(xxhash64(unit),
    MERSENNE31), several times cheaper per unit, not reproducible in
    ANSI SQL.
Both feed the same affine family minhash_i = min((A[i]*h + B[i]) mod
MERSENNE31); verification is exact under either, so the family only
decides which candidates surface.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Union

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from hindex_spark.operators.text import distinct_tokens, fingerprint, tokens

MERSENNE31 = 2147483647  # 2^31 - 1

# Fixed affine hash parameters (seed-42-style constants; mirrored
# literally in the oracle SQL builders below).
MINHASH_A = [1299721, 1299827, 1299853, 1299869, 1299721 * 3 % MERSENNE31,
             1500450271 % MERSENNE31, 179424673, 15485863]
MINHASH_B = [15485867, 32452843, 49979687, 67867967, 86028121,
             104395301, 122949823, 141650939]
N_HASHES = 8
BAND_SIZE = 2  # 4 bands of 2 -> candidates at jaccard ~>= 0.5


def _spread_for_shingle(df: DataFrame, id_col: str) -> DataFrame:
    """Id-partition narrowed candidate docs BEFORE shingling: the
    candidate-doc frame inherits the raw parquet scan's partitioning,
    which at a few MB is ONE partition — then if the optimizer
    broadcasts the (small) candidate-pair side, the exact-Jaccard
    verify of millions of pairs lands on that single probe partition
    (measured 4x on the sf1 valve path: 14 s -> 3.4 s). The exchange
    moves only light (id, text) rows — the heavy unit arrays are built
    post-exchange, so the shuffle is cheap AND the shingle compute
    spreads."""
    npart = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(npart, id_col)


def _minhash_coeffs(n_hashes: int):
    """(A, B) affine coefficients for an ``n_hashes``-wide family. The
    first 8 are the literal constants above (mirrored in the oracle SQL
    builders — DO NOT change); beyond 8 they extend deterministically
    (any fixed nonzero multipliers form a universal affine family mod a
    Mersenne prime)."""
    a, b = list(MINHASH_A), list(MINHASH_B)
    for i in range(8, n_hashes):
        a.append((179424673 * (2 * i + 1) + 7919 * i) % MERSENNE31 or 1)
        b.append((122949823 * (i + 1) + 32452843 * (i + 3)) % MERSENNE31)
    return a[:n_hashes], b[:n_hashes]

#: Production default for the LSH/SimHash banding skew valve. A band
#: bucket of m members expands to m(m-1)/2 candidate pairs; one hot
#: boilerplate bucket can dominate the whole job (measured at sf1:
#: a single 6.6k-doc bucket made the unvalved path 32x slower on 10x
#: data while the valved path stayed ~linear). 4096 caps any one
#: bucket's expansion at ~8.4M pairs — bounded work per bucket — while
#: genuine near-dup clusters (overwhelmingly < 100 docs) are untouched.
#: Production entry points (clean_corpus / minhash_join /
#: incremental_dedup) default to this; pass max_bucket=None for the
#: unbounded oracle-exact semantics.
DEFAULT_MAX_BUCKET = 4096

#: ``max_bucket="auto"`` derives the cap from the corpus's OWN bucket-
#: size distribution: p99.9 of band-bucket sizes x AUTO_VALVE_MULT,
#: floored at AUTO_VALVE_FLOOR. On a typical corpus p99.9 is single
#: digits (near-dup clusters are small cliques), so the cap lands at the
#: floor and only genuine outlier buckets — the boilerplate mode the
#: constant valve exists for — are dropped; on a corpus whose honest
#: cluster sizes run large, the cap scales up instead of silently
#: truncating real clusters the way a fixed constant would.
AUTO_VALVE_FLOOR = 256
AUTO_VALVE_MULT = 8

#: Hash-conditional valve sentinel — the ``minhash_dedup_pairs`` default
#: since round 12: the md5 family resolves to None (unbounded,
#: bit-for-bit the DuckDB-oracle semantics those gates pin) and every
#: other family — xxhash64, the self-described production path no
#: oracle pins — resolves to ``"auto"``. Rationale: unbounded banding
#: is quadratic in the largest bucket, and the bench's own sf1 record
#: (bench.py dedup_minhash_lsh_prod comment) shows one 6.6k-doc
#: boilerplate bucket putting 22M of the xxh path's 26M candidate pairs
#: — a footgun a 100 TB user should have to ARM, not disarm.
BY_HASH = "by-hash"


def _resolve_valve(
    max_bucket: Union[int, None, str], hash_fn: str = "md5",
    md5_cap: Optional[int] = None,
) -> Union[int, None, str]:
    """Map the ``"default"`` sentinel to DEFAULT_MAX_BUCKET and the
    ``"by-hash"`` sentinel to ``md5_cap`` on md5 or ``"auto"`` on any
    production hash; pass ints, ``"auto"`` (cap derived from the
    bucket-size distribution inside the candidate pass), and the
    explicit None (= unbounded opt-out) through unchanged. ``md5_cap``
    is None (unbounded, oracle-exact) for ``minhash_dedup_pairs``; the
    production entry points (``minhash_join``, ``clean_corpus``,
    ``DedupState.dedup_batch``) pass DEFAULT_MAX_BUCKET."""
    if max_bucket == BY_HASH:
        return md5_cap if hash_fn == "md5" else "auto"
    return DEFAULT_MAX_BUCKET if max_bucket == "default" else max_bucket


#: (bucket-key frame, membership column, cap) of the most recent pair
#: search whose valve was active with no caller Observation — see
#: ``last_valve_drops``. Single-writer, like the cache rotation below.
#: Deliberately NOT an auto-attached Observation: a fresh Observation
#: per call makes every plan unique, which defeats sameSemantics cache
#: reuse across repeated identical searches (measured 2.6x on the
#: bench's warm xxh line).
_LAST_VALVE_ACCT: Optional[tuple] = None


def _drop_counts(n: Column, cap: int, member_metric: str) -> List[Column]:
    """Aggregates over a valve frame: ``dropped_buckets`` (over-cap
    keys) and ``member_metric`` (their total membership ``n``)."""
    over = n > cap
    return [
        F.coalesce(F.sum(F.when(over, 1).otherwise(0)), F.lit(0)).alias(
            "dropped_buckets"
        ),
        F.coalesce(F.sum(F.when(over, n).otherwise(0)), F.lit(0)).alias(
            member_metric
        ),
    ]


def last_valve_drops() -> Optional[dict]:
    """Dropped-bucket accounting — ``{"dropped_buckets", "dropped_docs"}``
    (count and total membership of over-cap bucket keys) — for the most
    recent pair search whose valve was active by default or explicitly,
    with no caller-supplied ``dropped`` Observation. Self searches
    (``minhash_dedup_pairs``, ``simhash_pairs``) count docs per bucket;
    cross-corpus searches (``minhash_join``, ``incremental_dedup``,
    ``DedupState.dedup_batch``) count (band, bucket) keys per side, and
    their ``dropped_docs`` counts BAND ROWS — the ``dropped_rows`` of
    their Observation. The default-on drop must be OBSERVABLE, not
    silent: this runs ONE tiny aggregate over the search's bucket-key
    frame (persisted in the "auto" mode, so the upstream never
    recomputes) on demand. Returns None if no valved search ran yet."""
    if _LAST_VALVE_ACCT is None:
        return None
    frame, n, cap = _LAST_VALVE_ACCT
    return frame.select(*_drop_counts(n, cap, "dropped_docs")).collect()[0].asDict()

#: cached intermediates (candidate pairs, narrowed unit arrays) from the
#: most recent pair-search call — see _rotate_caches
_LIVE_CACHES: list = []

#: persists registered by INNER stages (e.g. the auto-valve frame
#: persisted by _valve) awaiting adoption by the enclosing pair
#: search's _rotate_caches call — they must outlive the returned lazy
#: plan, so the inner function cannot rotate itself
_PENDING_AUX: list = []


def _register_aux_cache(df: DataFrame) -> None:
    _PENDING_AUX.append(df)


def _rotate_caches(*new: DataFrame) -> None:
    """Release the PREVIOUS pair-search call's cached intermediates and
    track this call's. The candidate/unit-array persists must outlive
    the function (they back the returned lazy plan), but an unbounded
    CacheManager residue per call would thrash executor storage in a
    service calling pair search per corpus batch. Unpersist is always
    correctness-safe — a still-referenced earlier plan silently
    recomputes — so the worst case is re-shingling, never a wrong
    answer. Single-writer like the catalog: concurrent pair searches in
    one session would evict each other's caches (slower, still correct).

    Spark's CacheManager is keyed by logical plan, so a REPEATED call on
    the same inputs shares one cache entry with the previous call —
    unpersisting the old handle would evict the new call's cache too.
    Semantically-identical frames are therefore kept (repeat queries
    stay warm); only genuinely stale entries are released."""
    global _LIVE_CACHES, _PENDING_AUX
    keep = list(new) + _PENDING_AUX
    _PENDING_AUX = []
    for df in _LIVE_CACHES:
        try:
            if any(df.sameSemantics(n) for n in keep):
                continue
            df.unpersist()
        except Exception:
            pass
    _LIVE_CACHES = keep


def token_hash(token: Column) -> Column:
    """Deterministic 31-bit token hash reproducible in ANSI SQL:
    int(md5[0:15] hex) mod (2^31-1)."""
    return (F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long") % MERSENNE31)


def token_hash_xx(token: Column) -> Column:
    """Production 31-bit unit hash: ONE codegen'd xxhash64 call reduced
    mod 2^31-1 — no hex string materialization, no base conversion, so
    it is several times cheaper per unit than the md5 path at equal
    collision quality. NOT reproducible in ANSI SQL (xxhash64 is a
    Spark builtin), so every oracle-gated entry keeps ``md5``; pass
    ``hash_fn='xxhash64'`` for production corpora. Measured at sf0.1
    (steady state, local[32]): signature stage 1.1 s md5 vs 0.7 s
    xxhash64 (~35% off the hash-bound stage); full lsh workload
    (signatures + banding + exact-Jaccard verify) 1.86 s vs 1.57 s —
    the verify stage is hash-independent. The gap widens with shingle
    volume, i.e. with corpus size."""
    return F.pmod(F.xxhash64(token), F.lit(MERSENNE31)).cast("long")


#: unit-hash registry: 'md5' = oracle-reproducible, 'xxhash64' = fast path
HASH_FNS = {"md5": token_hash, "xxhash64": token_hash_xx}


def _unit_hash(hash_fn: str):
    if hash_fn not in HASH_FNS:
        raise ValueError(f"hash_fn must be one of {sorted(HASH_FNS)}: {hash_fn!r}")
    return HASH_FNS[hash_fn]


def doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) pairs, distinct tokens per doc."""
    return df.select(
        F.col(id_col), F.explode(distinct_tokens(F.col(text_col))).alias("token")
    )


def shingle_expr(toks: Column, n: int) -> Column:
    """Distinct w-shingles (n-word sliding windows) from a token ARRAY
    column. Shingling, not the unigram bag, is what makes MinHash
    discriminative: near-dup docs share long word runs; unrelated docs
    over a small vocabulary do not. Docs shorter than n collapse to a
    single whole-text shingle (same rule in the oracle SQL).

    IMPORTANT: pass a materialized array column, not tokens(text) inline —
    element_at inside the lambda would re-run split() per element,
    turning a linear scan into O(tokens^2) work per document."""
    windows = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + off + 1) for off in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(windows)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def doc_units(df: DataFrame, id_col: str, text_col: str, ngram: int = 1) -> DataFrame:
    """(id, token) comparison units: unigram tokens (ngram=1) or
    w-shingles (ngram>1)."""
    if ngram <= 1:
        return doc_tokens(df, id_col, text_col)
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    return toked.select(
        F.col(id_col), F.explode(shingle_expr(F.col("__toks"), ngram)).alias("token")
    )


def doc_unit_arrays(df: DataFrame, id_col: str, text_col: str, ngram: int = 1) -> DataFrame:
    """(id, units: array<string>) — the same distinct comparison units as
    ``doc_units`` but kept as one array row per doc: a narrow projection
    (no explode, no shuffle). Signature/verification passes that consume
    this stay scan-shaped, which is what makes them viable at 100 TB."""
    if ngram <= 1:
        return df.select(F.col(id_col), distinct_tokens(F.col(text_col)).alias("units"))
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    return toked.select(F.col(id_col), shingle_expr(F.col("__toks"), ngram).alias("units"))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content: keeper id (min), dup count, hash."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, "content_hash", "dup_count")
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative row (min id) per distinct content: a
    single row_number window over the content hash — one scan and one
    shuffle, vs. groupBy + semi-join's two scans, shuffle, and join."""
    from pyspark.sql import Window

    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# n-gram (token) Jaccard
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float, ngram: int = 1
) -> DataFrame:
    """Exact token/shingle-set Jaccard >= threshold via inverted-index
    join. Output: (id_a, id_b, jaccard) with id_a < id_b."""
    # ONE tokenize/shingle pass: the unit arrays are persisted and all
    # three consumers (both sides of the inverted-index join, the
    # per-doc set sizes) derive from the cache — unpersisted, the scan
    # + tokenize + array_distinct ran three times (guide §2.4).
    # doc_units ≡ explode(doc_unit_arrays): both emit the distinct
    # per-doc unit set (doc_tokens explodes distinct_tokens; the
    # shingle path explodes shingle_expr — the same expressions).
    ua = doc_unit_arrays(df, id_col, text_col, ngram).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _register_aux_cache(ua)
    tok = ua.select(F.col(id_col), F.explode("units").alias("token"))
    # |unit set| per doc as a narrow array-size scan — doc_units emits
    # distinct units, so size(units) == count(*) per id without the
    # explode + groupBy shuffle
    sizes = ua.select(F.col(id_col), F.size("units").alias("n"))
    a = tok.select(F.col(id_col).alias("id_a"), "token")
    b = tok.select(F.col(id_col).alias("id_b"), "token")
    common = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _signature_lane_cols(
    hashed: Column, n_hashes: int = N_HASHES
) -> List[Column]:
    """The minhash lane columns ``mh0..mh{n-1}`` from a PRE-HASHED unit
    array (the ``_hashed_units`` output staged as a real column by the
    caller — staging matters: referenced from n lanes inside one
    projection, an inline ``transform(units, hash)`` defeats
    subexpression elimination and re-hashes every unit n times). Each
    lane is an ``array_min`` over its affine image of the cheap long
    array, emitted as a TOP-LEVEL column — never bundled into one
    struct and re-extracted: GetStructField over a WHEN-wrapped struct
    does not simplify, so flattening duplicated the whole n-lane
    expression per output column (measured: the struct+flatten shape
    ran ~2x the fold it replaced; this shape runs 10-25% UNDER the
    fold, which re-allocated the n-field struct accumulator per
    element — higher-order lambdas evaluate interpreted, so
    per-element work is what counts).

    Result-identical to the historical fold by construction: min over
    units of (a_i*h + b_i) mod M either way. A NULL hashed array (NULL
    text on the unigram path) keeps NULL lanes; an EMPTY unit array
    keeps the MERSENNE31 init sentinels (array_min of an empty array is
    NULL -> coalesce) — such docs can only band-match other empty docs
    and verification then drops the pair (jaccard = 0/0 -> NULL)."""
    coeff_a, coeff_b = _minhash_coeffs(n_hashes)

    def lane(i: int) -> Column:
        a, b = coeff_a[i], coeff_b[i]
        return F.coalesce(
            F.array_min(
                F.transform(hashed, lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE31)
            ),
            F.lit(MERSENNE31).cast("long"),
        )

    return [
        F.when(hashed.isNotNull(), lane(i)).alias(f"mh{i}")
        for i in range(n_hashes)
    ]


def _hashed_units(units: Column, hash_fn: str = "md5") -> Column:
    """The unit array mapped through the 31-bit unit hash — ONE
    md5/xxhash evaluation per unit however many minhash lanes consume
    it. Stage this as a real column before ``_signature_lane_cols``."""
    return F.transform(units, _unit_hash(hash_fn))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    hash_fn: str = "md5",
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """(id, mh0..mh{n-1}): a narrow projection pass (shingle -> hash ->
    one n-way min fold) with NO shuffle at all — at 100 TB the signature
    job is a pure map over the corpus. (The explode + groupBy(n mins)
    alternative is also viable at scale — map-side combine collapses it
    to ~1 row/doc before the exchange — but it still materializes every
    shingle as a row and pays an exchange; the fold does neither.)

    ``hash_fn``: 'md5' (default, DuckDB-oracle-reproducible) or
    'xxhash64' (production — same banding/recall behavior, several times
    cheaper per unit; see ``token_hash_xx``). ``n_hashes`` widens the
    family for tighter banding (see ``lsh_candidate_pairs``)."""
    ua = doc_unit_arrays(df, id_col, text_col, ngram)
    # stage the hashed array as a real column: the n per-lane minima in
    # the next projection reference it without re-hashing (see
    # _signature_lane_cols); CollapseProject keeps the boundary because
    # the alias is referenced n times and is non-cheap
    hs = ua.select(
        F.col(id_col), _hashed_units(F.col("units"), hash_fn).alias("__hs")
    )
    return hs.select(
        F.col(id_col), *_signature_lane_cols(F.col("__hs"), n_hashes)
    )


def _sig_width(signatures: DataFrame) -> int:
    """Number of mh* columns — the signature width, derived from the
    frame itself so banding never needs the width re-threaded."""
    import re as _re

    return sum(1 for c in signatures.columns if _re.fullmatch(r"mh\d+", c))


def _band_rows(
    signatures: DataFrame, id_col: str, band_size: int = BAND_SIZE,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """(id, [extra_cols,] band, bucket): one row per (doc, band), bucket
    = the band's minhash rows joined into a string key. A narrow explode
    (x n_bands), no shuffle — the banding layer shared by self-dedup and
    the cross-corpus join. Band count = signature width // band_size; a
    trailing remainder of mh columns is ignored (standard banding).
    ``extra_cols`` names columns of ``signatures`` carried through
    verbatim (DedupState's band side table rides its ``gen`` here)."""
    n_bands = _sig_width(signatures) // band_size
    return signatures.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[F.col(f"mh{b * band_size + r}") for r in range(band_size)],
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, *extra_cols,
             F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


# ---------------------------------------------------------------------------
# the blocking core: skew valve, in-bucket pair expansion, Jaccard verify
# ---------------------------------------------------------------------------


def _valve(
    frame: DataFrame,
    n: Column,
    max_bucket: Union[int, str],
    dropped: Optional[Observation] = None,
    member_metric: str = "dropped_docs",
):
    """The skew valve of every blocked pair search. ``frame`` has one row
    per bucket key and ``n`` is that key's membership; a key of n
    members expands to ~n^2 pairs, so a key over the cap is boilerplate,
    not near-duplication, and is cut before expansion (its members still
    meet through their other, more selective keys).

    ``max_bucket="auto"`` derives the cap from ``frame``'s own size
    distribution — p99.9 x AUTO_VALVE_MULT, floored at AUTO_VALVE_FLOOR,
    both read at call time — with one extra aggregation job whose
    driver-side result is a single double. The frame is PERSISTED before
    that job so the pipeline upstream of it runs ONCE, not once for the
    sketch and again for the pairs (measured 3.7x on the bench's xxh
    line without the persist); the cache is adopted by the enclosing
    search's ``_rotate_caches``. At 100 TB run the sketch on a sample
    via ``lsh_bucket_profile`` and pass the int.

    Accounting — ``dropped_buckets`` and ``member_metric`` (count and
    total membership of over-cap keys; ``dropped_docs`` for self
    searches, ``dropped_rows`` for cross-corpus ones) — rides the
    caller's ``dropped`` Observation as a side effect of the normal
    pass, with no extra job. Without one, ``(frame, n, cap)`` is
    recorded for ``last_valve_drops()`` instead, which keeps plans
    Observation-free (see ``_LAST_VALVE_ACCT``).

    Returns ``(kept, over)``, both lazy: the keys at or under the cap
    (what a self search expands) and the over-cap keys (what a
    cross-corpus search anti-joins)."""
    if max_bucket == "auto":
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        _register_aux_cache(frame)
        q = frame.select(n.cast("double").alias("s")).approxQuantile(
            "s", [0.999], 0.001
        )
        max_bucket = int(max(AUTO_VALVE_FLOOR, (q[0] if q else 0) * AUTO_VALVE_MULT))
    if dropped is None:
        global _LAST_VALVE_ACCT
        _LAST_VALVE_ACCT = (frame, n, max_bucket)
    else:
        frame = frame.observe(dropped, *_drop_counts(n, max_bucket, member_metric))
    return frame.filter(n <= max_bucket), frame.filter(n > max_bucket)


def _bucket_pairs(buckets: DataFrame, members: str, a: str, b: str) -> DataFrame:
    """(a, b): every pair inside each bucket's ``members`` array, the
    element at 0-based position i paired with every later element (the
    1-based ``slice(i+2..)`` window). TWO codegen'd Generate operators —
    posexplode of the bucket, explode of each element's tail slice —
    instead of one interpreted nested ``transform``: higher-order
    lambdas evaluate interpreted per element (guide §1.2) and the
    flattened array-of-structs materialized every bucket's full pair
    list before the explode — pure allocation, and the measured source
    of multi-second GC outliers on hot buckets. Here the pairs stream
    row-at-a-time through whole-stage codegen."""
    return buckets.select(
        F.col(members), F.posexplode(members).alias("__i", a)
    ).select(
        a,
        F.explode(
            F.slice(
                F.col(members),
                F.col("__i") + 2,
                F.greatest(F.size(members) - F.col("__i") - 1, F.lit(0)),
            )
        ).alias(b),
    )


def _jaccard_verify(
    cands: DataFrame, ua: DataFrame, ub: DataFrame, id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs ``(id_a, id_b)``: id_a
    joins ``ua``, id_b joins ``ub`` (both ``(id_col, units)`` unit-array
    frames, ``doc_unit_arrays`` shape) and the pair is kept when
    ``array_intersect`` size over union size >= ``threshold`` — the same
    math as ``jaccard_pairs``' inverted-index join (both sides are
    distinct unit sets) but per-pair linear work with no token-level
    shuffle; cost ~ |candidates|, not |corpus|. Output: (id_a, id_b,
    jaccard rounded to 6 places)."""
    va = ua.select(F.col(id_col).alias("id_a"), F.col("units").alias("u_a"))
    vb = ub.select(F.col(id_col).alias("id_b"), F.col("units").alias("u_b"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("c", F.size(F.array_intersect(F.col("u_a"), F.col("u_b"))))
        .withColumn(
            "jaccard", F.col("c") / (F.size("u_a") + F.size("u_b") - F.col("c"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    max_bucket: Union[int, None, str] = None,
    dropped: Optional[Observation] = None,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Band the signature (4 bands x 2 rows), group by band bucket, and
    emit id pairs from within each bucket — ONE pass over the signature
    input and one shuffle keyed by (band, bucket), vs. a self-join that
    executes the signature job twice. Never a cross join: cost is
    sum over buckets of |bucket|^2, the LSH contract.

    ``max_bucket`` is the 100 TB safety valve: buckets larger than it are
    dropped before pair expansion (their members still pair up through
    their other, more selective bands — a bucket that common is driven by
    boilerplate shingles, not near-duplication, and its |bucket|^2
    expansion is exactly the blow-up LSH exists to avoid). Default None
    = unbounded, bit-for-bit the oracle semantics. ``"auto"`` derives
    the cap from this corpus's own bucket-size distribution
    (p99.9 x AUTO_VALVE_MULT, floored at AUTO_VALVE_FLOOR) at the cost
    of one extra aggregation job.

    ``dropped``: an optional ``pyspark.sql.Observation``; when the valve
    is active, it records ``dropped_buckets`` / ``dropped_docs`` (count
    and total membership of over-cap buckets) as a side effect of the
    normal pass — no extra job. Read it with ``dropped.get`` after the
    first action on the result. Caveat: if the valve drops EVERY bucket
    (zero candidates), AQE's empty-relation propagation can collapse the
    plan below the metrics node before it runs and ``dropped.get``
    raises — use ``lsh_bucket_profile`` for unconditional accounting.

    ``band_size`` controls the selectivity/recall trade: with width-n
    signatures and bands of r rows, a pair of true Jaccard s becomes a
    candidate with p = 1-(1-s^r)^(n//r). The (8, 2) default surfaces
    candidates down to s ~ 0.5 (oracle semantics); the production
    configuration for high thresholds is a WIDER family with WIDER
    bands — (16, 4) puts the candidate knee at s ~ 0.66 with 98.6%
    recall at s = 0.9, cutting the exact-verification load by an order
    of magnitude on boilerplate-heavy corpora (measured at sf1:
    4.9M -> 0.30M candidates, 11.0 s -> 1.3 s end-to-end, and MORE
    verified pairs than the valved (8, 2) run — the tighter buckets
    stay under the skew valve, so nothing real gets dropped)."""
    bands = _band_rows(signatures, id_col, band_size)
    buckets = (
        bands.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        buckets, _ = _valve(buckets, F.size("ids"), max_bucket, dropped)
    return _bucket_pairs(buckets, "ids", "id_a", "id_b").distinct()


def lsh_bucket_profile(signatures: DataFrame, id_col: str) -> DataFrame:
    """Diagnostic: (band, bucket, size) for every band bucket with >= 2
    members, largest first — the skew profile an operator reads to pick
    (or audit) ``max_bucket``. Same one-shuffle cost shape as the
    candidate pass itself; run it on a sample at 100 TB. Unlike the
    ``dropped`` Observation this is unconditional (it does not ride the
    candidate query, so empty-candidate plans can't collapse it)."""
    return (
        _band_rows(signatures, id_col)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("size"))
        .filter(F.col("size") >= 2)
        .orderBy(F.col("size").desc())
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    ngram: int = 3,
    max_bucket: Union[int, None, str] = BY_HASH,
    hash_fn: str = "md5",
    dropped: Optional[Observation] = None,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard over the per-doc unit
    arrays (``_jaccard_verify``): cost ~ |candidates|, not |corpus|.

    ``hash_fn`` only affects which candidates LSH surfaces (the minhash
    family); verification is exact Jaccard either way, so reported pairs
    are correct under both — 'xxhash64' is the cheaper production path,
    'md5' the oracle-reproducible default.

    Verification reads shingles ONLY for docs that appear in some
    candidate pair: the (tiny) pair set is cached, its id set semi-joins
    the corpus, and the narrowed unit arrays are cached for the two pair
    joins. At 100 TB candidates are ≪ corpus, so the expensive shingle
    recomputation never touches the non-candidate bulk — without the
    narrowing, each side of the pair join re-shingled the whole corpus.

    ``n_hashes``/``band_size`` pick the LSH family: (8, 2) is the
    oracle-pinned default; (16, 4) is the high-threshold production
    configuration — see ``lsh_candidate_pairs``. Verified output is a
    SUBSET relationship, never a correctness one: every emitted pair is
    exactly-Jaccard-checked under any family.

    ``max_bucket`` defaults to the ``BY_HASH`` sentinel: None (unbounded
    — the oracle-exact semantics the md5 DuckDB gates pin) on the md5
    family, ``"auto"`` on xxhash64 (the production path — see BY_HASH).
    When the valve is active and the caller supplied no ``dropped``
    Observation, the drop accounting still exists — read it with
    ``last_valve_drops()`` (an on-demand aggregate over the candidate
    pass's bucket frame; plans stay Observation-free so repeated
    identical searches keep sharing one cache entry)."""
    max_bucket = _resolve_valve(max_bucket, hash_fn)
    cands = lsh_candidate_pairs(
        minhash_signatures(df, id_col, text_col, ngram, hash_fn=hash_fn, n_hashes=n_hashes),
        id_col,
        max_bucket=max_bucket,
        dropped=dropped,
        band_size=band_size,
    ).persist()
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    ua = doc_unit_arrays(
        _spread_for_shingle(df.join(cand_ids, id_col, "left_semi"), id_col),
        id_col,
        text_col,
        ngram,
    ).persist()
    _rotate_caches(cands, ua)
    return _jaccard_verify(cands, ua, ua, id_col, threshold)


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    ngram: int = 3,
    max_bucket: Union[int, None, str] = BY_HASH,
    hash_fn: str = "md5",
    dropped: Optional[Observation] = None,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Cross-corpus near-duplicate JOIN at LSH cost: which docs in
    ``left`` are near-duplicates of docs in ``right``? The scale path for
    fuzzy decontamination — the exact n-gram rule
    (operators/packing.py:34) catches verbatim overlap; this catches
    lightly-edited copies of benchmark items, at 8 minhash values per doc
    per side instead of the benchmark's full n-gram set.

    Shape: each side gets the shuffle-free signature fold, banding is a
    narrow explode, candidates come from ONE equi-join on (band, bucket)
    — never a cross join; cost ~ sum over buckets of |L_b| x |R_b|.
    Verification is ``minhash_dedup_pairs``' exact-Jaccard verify
    (``_jaccard_verify``).

    ``max_bucket`` drops (band, bucket) keys whose pair expansion exceeds
    ``max_bucket``^2 (boilerplate buckets, the skew valve at 100 TB).
    This is a PRODUCTION entry point, so the valve defaults ON under the
    ``BY_HASH`` sentinel: md5 keeps the constant cap
    (DEFAULT_MAX_BUCKET = 4096 — no oracle pins this API's default; the
    oracle gate passes ``max_bucket=None`` explicitly, and the one
    measured super-linear mode at sf1 was exactly an unvalved hot
    bucket), while xxhash64 — the production digest — derives the cap
    from the corpus's own bucket-size distribution (``"auto"``, one
    extra aggregation over the band-size counts). Pass
    ``max_bucket=None`` explicitly for unbounded oracle-exact semantics.
    ``dropped``: optional Observation recording ``dropped_buckets`` /
    ``dropped_rows`` (over-cap (side, band, bucket) keys and their total
    membership) as a side effect of the normal pass; without one,
    ``last_valve_drops()`` reports the same numbers.

    Output: (id_a from left, id_b from right, jaccard >= threshold).
    """
    max_bucket = _resolve_valve(max_bucket, hash_fn, md5_cap=DEFAULT_MAX_BUCKET)
    bl = _band_rows(
        minhash_signatures(left, id_col, text_col, ngram, hash_fn=hash_fn, n_hashes=n_hashes),
        id_col, band_size,
    ).select(F.col(id_col).alias("id_a"), "band", "bucket")
    br = _band_rows(
        minhash_signatures(right, id_col, text_col, ngram, hash_fn=hash_fn, n_hashes=n_hashes),
        id_col, band_size,
    ).select(F.col(id_col).alias("id_b"), "band", "bucket")
    extra_caches: list = []
    if max_bucket is not None:
        # The valve needs a bucket-size pass over the SAME band rows the
        # candidate join consumes, and each side's band rows sit on top
        # of the shingle + minhash fold — the most expensive map in the
        # whole pipeline. Unpersisted, that fold ran TWICE per side
        # (once under ``sizes``, once under the join); persist the
        # narrow (id, band, bucket) frames so it runs once (§2.4 of the
        # optimization guide: duplicated subtrees are hidden re-scans).
        # At extreme scale the durable answer is precomputed signatures
        # (DedupState); MEMORY_AND_DISK is the single-job equivalent.
        bl = bl.persist(StorageLevel.MEMORY_AND_DISK)
        br = br.persist(StorageLevel.MEMORY_AND_DISK)
        extra_caches += [bl, br]
        sizes = (
            bl.groupBy("band", "bucket").agg(F.count("*").alias("__n"))
            .withColumn("__side", F.lit("L"))
            .unionByName(
                br.groupBy("band", "bucket").agg(F.count("*").alias("__n"))
                .withColumn("__side", F.lit("R"))
            )
        )
        _, big = _valve(sizes, F.col("__n"), max_bucket, dropped, "dropped_rows")
        # tiny (only over-cap keys); persisted so both anti-joins read one
        # computation and the observation fires exactly once
        big = big.persist()
        extra_caches.append(big)
        bl = bl.join(
            F.broadcast(big.filter(F.col("__side") == "L").select("band", "bucket")),
            ["band", "bucket"], "left_anti",
        )
        br = br.join(
            F.broadcast(big.filter(F.col("__side") == "R").select("band", "bucket")),
            ["band", "bucket"], "left_anti",
        )
    cands = bl.join(br, ["band", "bucket"]).select("id_a", "id_b").distinct().persist()
    _rotate_caches(cands, *extra_caches)
    # verification narrowing (same as minhash_dedup_pairs): re-shingle
    # only docs that appear in a candidate pair, not either full corpus;
    # docs spread pre-shingle so the pair joins keep probe parallelism
    # even if the optimizer broadcasts the candidate side (see
    # _spread_for_shingle — the exchange moves light text rows)
    ua = doc_unit_arrays(
        _spread_for_shingle(
            left.join(cands.select(F.col("id_a").alias(id_col)).distinct(),
                      id_col, "left_semi"), id_col),
        id_col,
        text_col,
        ngram,
    )
    ub = doc_unit_arrays(
        _spread_for_shingle(
            right.join(cands.select(F.col("id_b").alias(id_col)).distinct(),
                       id_col, "left_semi"), id_col),
        id_col,
        text_col,
        ngram,
    )
    return _jaccard_verify(cands, ua, ub, id_col, threshold)


def shared_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 20,
    min_spans: int = 1,
    max_span_df: Optional[int] = None,
) -> DataFrame:
    """Doc pairs sharing >= ``min_spans`` distinct VERBATIM runs of
    ``span_tokens`` words — substring-level duplicate detection (the
    windowed form of Lee et al.'s "Deduplicating Training Data" suffix
    approach): catches partial overlap (quoted/boilerplate reuse between
    otherwise-different docs) that whole-doc Jaccard scores near 0.

    Scale shape: spans are hashed to 8-byte longs BEFORE the self-join,
    so the shuffle carries (id, hash) rows, never the text; cost is
    sum over spans of df(span)^2 — long spans are near-unique, so
    fan-out concentrates exactly on boilerplate, which ``max_span_df``
    caps (spans appearing in more docs than it are dropped — same
    valve logic as LSH's max_bucket).

    Output: (id_a, id_b, n_spans) with id_a < id_b."""
    units = doc_units(df, id_col, text_col, ngram=span_tokens)
    h = units.select(F.col(id_col), token_hash(F.col("token")).alias("h"))
    if max_span_df is not None:
        hot = (
            h.groupBy("h")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_span_df)
            .select("h")
        )
        h = h.join(hot, "h", "left_anti")
    a = h.select(F.col(id_col).alias("id_a"), "h")
    b = h.select(F.col(id_col).alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_spans"))
        .filter(F.col("n_spans") >= min_spans)
    )


def incremental_dedup(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    ngram: int = 3,
    max_bucket: Union[int, None, str] = BY_HASH,
    hash_fn: str = "md5",
    dropped: Optional[Observation] = None,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Dedup an incoming batch AGAINST an existing corpus — the
    production shape (daily crawl vs. the historical index): a batch doc
    is dropped if its exact content hash already exists in the corpus OR
    it is a near-duplicate (MinHash-verified Jaccard >= threshold) of a
    corpus doc. Returns the surviving batch rows, original schema.

    Scale shape: the exact pass is a hash-key anti-join (fingerprint
    equality — both sides reduce to one 32-char key per doc, and the
    corpus side is a narrow single-column projection); the near-dup pass
    is ``minhash_join`` (banded equi-join, never all-pairs). The corpus
    is never rewritten and only its fingerprints/signatures are read —
    at 100 TB both reductions are pure map passes over the parquet scan,
    and in steady state they would be precomputed once and reused per
    batch (see ``DedupState`` for the persisted-store path).

    Production entry point: the LSH skew valve defaults ON via the
    ``BY_HASH`` sentinel, resolved by ``minhash_join`` (md5 -> constant
    DEFAULT_MAX_BUCKET cap, xxhash64 -> corpus-adaptive ``"auto"``);
    pass None for unbounded oracle-exact semantics. ``dropped`` (an
    Observation) reports over-cap buckets when the valve fires."""
    nf = new.withColumn("__fp", fingerprint(F.col(text_col)))
    cf = corpus.select(fingerprint(F.col(text_col)).alias("__fp")).distinct()
    # ``fresh`` feeds three consumers and its lineage embeds the
    # full-corpus fingerprint distinct — an apparent §2.4 duplicated
    # subtree. Measured (r12): truncating it with a lazy
    # localCheckpoint was a 3x REGRESSION at sf0.1 — ReuseExchange
    # already shares the corpus distinct across consumers in one job,
    # and the checkpoint forced an extra materialization barrier that
    # broke AQE's runtime join planning downstream. Left lazy on
    # purpose; the persisted-store path (DedupState) remains the
    # durable answer when the corpus side must not be recomputed.
    fresh = nf.join(cf, "__fp", "left_anti").drop("__fp")
    near = minhash_join(
        fresh, corpus, id_col, text_col, threshold, ngram, max_bucket,
        hash_fn=hash_fn, dropped=dropped, n_hashes=n_hashes,
        band_size=band_size,
    ).select(F.col("id_a").alias(id_col)).distinct()
    return fresh.join(near, id_col, "left_anti")


# ---------------------------------------------------------------------------
# line-level exact dedup (C4-style duplicate-span removal)
# ---------------------------------------------------------------------------


def doc_lines(
    df: DataFrame, id_col: str, text_col: str, words_per_line: int = 10
) -> DataFrame:
    """(id, line_no, line): fixed ``words_per_line``-word chunks of each
    doc, in order. The corpus has no newline structure, so "lines" are
    word windows — the unit C4/RefinedWeb dedup at (they use real lines /
    3-sentence spans; the operator is granularity-agnostic). A narrow
    transform + posexplode — no shuffle; ~tokens/words_per_line rows per
    doc."""
    w = words_per_line
    # NULL text has no lines. (Without the filter, size(NULL)=-1 makes
    # n_lines 0 and sequence(0, -1) DESCENDS, emitting two junk lines.)
    toked = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    # explode(line-number sequence) + top-level slice/concat_ws instead
    # of posexplode over a transform-built line array: Generate +
    # Project fuse in codegen so each line string is assembled in
    # place, where the lambda ran interpreted per line and materialized
    # every doc's full line array first (same rewrite as the k-gram
    # builder in remove_duplicate_spans; line_no = the 0-based sequence
    # value, exactly posexplode's index — equal BECAUSE tokens() of
    # non-null text is always non-empty (split of the trimmed string
    # yields >= 1 element), so n_lines >= 1 and sequence(0, n_lines-1)
    # never descends)
    n_lines = F.floor((F.size("__toks") - F.lit(1)) / F.lit(w)).cast("int") + F.lit(1)
    return toked.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(F.sequence(F.lit(0), n_lines - F.lit(1))).alias("line_no"),
    ).select(
        F.col(id_col),
        F.col("line_no"),
        F.concat_ws(
            " ", F.slice(F.col("__toks"), F.col("line_no") * w + 1, w)
        ).alias("line"),
    )


def _reassemble_lines(
    df: DataFrame, dropped: DataFrame, id_col: str, text_col: str,
    words_per_line: int = 10,
) -> DataFrame:
    """(id, text, __nk, __nl) — each doc rebuilt from its surviving
    fixed word-window lines, given ``dropped`` = (id, ``__dl``: dropped
    line_nos) holding ONLY affected docs. The shared reassembly tail of
    ``dedup_lines`` / ``trim_repeated_lines``.

    Fast path: docs absent from ``dropped`` (the typical case) rebuild
    as a native ``array_join(__toks)`` — the w-token lines joined by a
    space ARE the single-space token join — and never materialize the
    per-doc line array or run the interpreted per-line gather at all
    (the line array and kept-index columns are staged behind
    ``__dl IS NULL`` CASE guards, which evaluate lazily per row). The
    line count ``__nl`` comes from arithmetic over size(__toks), so no
    branch needs the array for sizing. Affected docs build the line
    array once (staged as a real column — referenced from the gather
    lambda, where an inline expression would re-evaluate per element)
    and gather exactly as before."""
    w = words_per_line
    toked = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    n_lines = (
        F.floor((F.size("__toks") - F.lit(1)) / F.lit(w)).cast("int") + F.lit(1)
    )
    clean = F.col("__dl").isNull()
    lines = F.transform(
        F.sequence(F.lit(0), F.col("__nl") - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i * w + 1, w)),
    )
    kept_idx = F.array_except(
        F.sequence(F.lit(0), F.col("__nl") - 1), F.col("__dl")
    )
    staged = (
        toked.join(dropped, id_col, "left")
        .select(F.col(id_col), F.col("__toks"), F.col("__dl"),
                n_lines.alias("__nl"))
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.col("__nl"),
            F.when(~clean, kept_idx).alias("__ki"),
            F.when(~clean, lines).alias("__lines"),
        )
    )
    fast = F.col("__ki").isNull()
    return staged.select(
        F.col(id_col),
        F.when(fast, F.array_join(F.col("__toks"), " "))
        .otherwise(
            F.array_join(
                F.transform(
                    F.col("__ki"),
                    lambda i: F.element_at(F.col("__lines"), i + 1),
                ),
                " ",
            )
        )
        .alias("text"),
        F.when(fast, F.col("__nl"))
        .otherwise(F.size("__ki"))
        .cast("long")
        .alias("__nk"),
        F.col("__nl").cast("long").alias("__nl"),
    )


def dedup_lines(
    df: DataFrame, id_col: str, text_col: str, words_per_line: int = 10
) -> DataFrame:
    """C4-style duplicate-SPAN removal: keep only the globally first
    occurrence (min (doc_id, line_no)) of every distinct line and
    reassemble each doc from its surviving lines, preserving order. Docs
    whose every line occurred earlier elsewhere vanish from the output
    (C4 drops now-empty docs).

    Scale shape: one row_number window keyed by the line text (the
    dedup shuffle — fundamental, the global first-occurrence decision)
    plus a DROPPED-LINE-sized reassembly: duplicate line_nos aggregate
    to one array row per affected doc and documents are rebuilt by a
    zero-shuffle array gather over ``_line_arrays`` (guide §2.3 —
    shuffle keys/metadata, not payloads; the previous shape re-shuffled
    every SURVIVING line's text through a groupBy(doc) collect_list,
    i.e. nearly the whole corpus a second time). At 100 TB the window
    key is the line text itself; skew = boilerplate lines, which is
    precisely the content being removed.

    Output: (id, text [deduped], n_lines_kept).
    """
    from pyspark.sql import Window

    lines = doc_lines(df, id_col, text_col, words_per_line)
    w = Window.partitionBy("line").orderBy(id_col, "line_no")
    dropped = (
        lines.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .groupBy(id_col)
        .agg(F.collect_set("line_no").alias("__dl"))
    )
    return (
        _reassemble_lines(df, dropped, id_col, text_col, words_per_line)
        # docs whose every line occurred earlier elsewhere vanish
        .filter(F.col("__nk") > 0)
        .select(
            F.col(id_col),
            F.col("text"),
            F.col("__nk").alias("n_lines_kept"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    hash_unit: str = "raw",
) -> DataFrame:
    """ExactSubstr-style duplicate-SPAN removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any run
    of >= ``k`` tokens that also occurs earlier in the corpus (global
    (doc, pos) order) is cut out of the document; the globally first
    occurrence survives. Unlike ``dedup_lines``'s fixed non-overlapping
    windows, the k-grams here OVERLAP, so a duplicated run is removed
    regardless of how it aligns to any window grid — the property that
    makes the suffix-array version exact, reproduced with k-gram
    granularity.

    Semantics: a k-gram occurrence is a duplicate iff its row_number in
    (gram -> order by (id, pos)) is > 1; every token position covered by
    a duplicate k-gram is dropped; docs are reassembled from surviving
    tokens in order. Every doc survives (fully-duplicated docs come back
    with ``text=''`` and ``n_tokens_kept=0`` — the caller decides whether
    to drop empties, as C4 does).

    Scale shape (T = corpus tokens): one narrow explode to ~T gram rows,
    ONE shuffle — the row_number window keyed by the gram — then a
    bounded <= k*T covered-position explode, an (id, pos) equi-join and
    one groupBy(doc) reassembly. No self-join of documents, no driver
    loop. Skew = the duplicated boilerplate itself (exactly the content
    being removed); each window group only needs its minimum, and the
    per-group sort is by (id, pos) on identical-gram rows.

    ``hash_unit="xx"`` keys the window by ``xxhash64(gram)`` instead of
    the gram STRING — at 100 TB the shuffle carries 8-byte keys instead
    of ~8-word strings (collision odds ~T^2/2^64, negligible); ``"raw"``
    is the oracle-exact default.
    """
    if hash_unit not in ("raw", "xx"):
        raise ValueError(f"hash_unit must be 'raw' or 'xx', got {hash_unit!r}")
    from pyspark.sql import Window

    toked = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    # overlapping k-gram rows at positions 1..n-k+1 (sequence(1,0) would
    # DESCEND, so short docs get an explicit empty position list).
    # Built as explode(position sequence) + a top-level slice/concat_ws
    # projection — Generate and Project fuse in whole-stage codegen, so
    # the gram string is assembled in place; the previous
    # transform-lambda shape ran INTERPRETED per position (guide §1.2)
    # and materialized every doc's full (pos, gram) struct array before
    # the explode.
    grams = toked.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(
            F.when(
                F.size("__toks") >= k,
                F.sequence(F.lit(1), F.size("__toks") - F.lit(k) + 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.concat_ws(" ", F.slice(F.col("__toks"), F.col("pos"), k)).alias(
            "gram"
        ),
    )
    if hash_unit == "xx":
        # project the 8-byte key and DROP the gram string BEFORE the
        # window — otherwise the exchange carries every k-word string
        # alongside the hash it partitions on
        grams = grams.select(
            F.col(id_col), "pos", F.xxhash64("gram").alias("__gk")
        )
        gram_key = F.col("__gk")
    else:
        gram_key = F.col("gram")
    w = Window.partitionBy(gram_key).orderBy(id_col, "pos")
    dup = (
        grams.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col, "pos")
    )
    # Reassembly ships COVERED POSITIONS, not tokens (guide §2.3:
    # shuffle keys and metadata instead of payloads): duplicate-gram
    # positions aggregate to ONE array row per affected doc — bounded
    # by the duplicated content, not the corpus — and documents are
    # rebuilt by a zero-shuffle array pass over the token arrays
    # (array_except of the position range, element_at gather). The
    # previous shape exploded every token into a row, outer-joined it
    # against covered positions and re-collected per doc: two extra
    # corpus-token-sized exchanges (join + collect_list) that carried
    # every token string through the shuffle. Only docs that actually
    # contain duplicates appear in ``cov``; everyone else joins NULL
    # and keeps their text by a cheap projection.
    cov = dup.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
            "cpos"
        ),
    ).groupBy(id_col).agg(F.collect_set("cpos").alias("__cps"))
    # tokens() always returns >= 1 element for non-null text (split of
    # the trimmed string), so sequence(1, n) never descends
    kept = F.array_except(
        F.sequence(F.lit(1), F.size("__toks")),
        F.coalesce(F.col("__cps"), F.array().cast("array<int>")),
    )
    # Fast path for the (typical) docs with NO covered positions: their
    # rebuilt text is just array_join(__toks) — native, no array_except
    # and no interpreted per-token element_at gather (CASE WHEN branches
    # evaluate lazily, so unaffected docs skip both entirely; on a
    # low-duplication corpus the gather was the dominant per-token cost
    # of the whole reassembly). Identical output: kept == the full
    # position sequence when __cps is NULL, so the gather would emit
    # every token in order — exactly the single-space join of __toks.
    clean = F.col("__cps").isNull()
    return (
        toked.join(cov, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.col("__cps"),
            # DIRTY docs only: clean docs never materialize a position
            # array at all — their kept count IS size(__toks), so the
            # counts below branch on __cps instead of sizing a per-doc
            # sequence(1, n) allocated just to be counted (matching
            # _reassemble_lines' __nk count projection).
            F.when(~clean, kept).alias("__keep"),
        )
        .select(
            F.col(id_col),
            F.when(clean, F.array_join(F.col("__toks"), " "))
            .otherwise(
                F.array_join(
                    F.transform(
                        F.col("__keep"),
                        lambda p: F.element_at(F.col("__toks"), p),
                    ),
                    " ",
                )
            )
            .alias("text"),
            F.when(clean, F.size("__toks"))
            .otherwise(F.size("__keep"))
            .cast("long")
            .alias("n_tokens_kept"),
            F.when(clean, F.lit(0))
            .otherwise(F.size("__toks") - F.size("__keep"))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def trim_repeated_lines(
    df: DataFrame, id_col: str, text_col: str, words_per_line: int = 10
) -> DataFrame:
    """WITHIN-doc repetition removal: drop every repeat of a line inside
    the same document, keeping its first occurrence (the "remove
    duplicated paragraphs in-page" cleanup that complements the global
    ``dedup_lines`` and the Gopher repetition *filters* — those drop the
    whole doc; this repairs it). Every doc survives.

    Scale shape: the window key is (doc, line) so state per group is one
    doc's copies of one line — narrower than ``dedup_lines``'s global
    key — and reassembly is the same dropped-line-sized gather as
    ``dedup_lines`` (§2.3): only repeated line_nos ride the post-window
    aggregation, the text is rebuilt from ``_line_arrays`` with zero
    extra shuffle on the corpus side.

    Output: (id, text [repaired], n_lines_kept, n_lines_dropped)."""
    from pyspark.sql import Window

    lines = doc_lines(df, id_col, text_col, words_per_line)
    w = Window.partitionBy(id_col, "line").orderBy("line_no")
    dropped = (
        lines.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .groupBy(id_col)
        .agg(F.collect_set("line_no").alias("__dl"))
    )
    return (
        _reassemble_lines(df, dropped, id_col, text_col, words_per_line)
        .select(
            F.col(id_col),
            F.col("text"),
            F.col("__nk").alias("n_lines_kept"),
            (F.col("__nl") - F.col("__nk")).alias("n_lines_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


#: widest supported simhash: md5's first 15 hex chars = 60 unit-hash bits
SIMHASH_MAX_BITS = 60


def token_hash_wide(token: Column) -> Column:
    """60-bit token hash (md5[0:15] hex, NO modulus) — the unit hash for
    wide simhashes, where the 31-bit ``token_hash`` would leave the high
    bits constant."""
    return F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")


def token_hash_xx_wide(token: Column) -> Column:
    """60-bit xxhash64-based unit hash (production analog of
    ``token_hash_wide`` — one codegen'd call, no hex strings)."""
    return F.pmod(F.xxhash64(token), F.lit(1 << 60)).cast("long")


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    bits: int = SIMHASH_BITS,
    hash_fn: str = "md5",
) -> DataFrame:
    """``bits``-wide SimHash per doc, computed as a per-row fold over the
    unit array: for each bit, count set occurrences and compare to n/2
    (the same sign test as summing +/-1 per unit). A narrow projection
    with NO shuffle — the explode + groupBy alternative pays a
    corpus-sized shuffle for the same result. One fold pass hashes each
    unit once and accumulates struct(n, c0..c{bits-1}).

    ``bits`` defaults to 32 (oracle-parity with the 31-bit SQL token
    hash); at corpus scale use more — a k-banded pair search has only
    2^(bits/(k+1)) distinct values per band, and 32-bit slices are too
    coarse for 10^9+ docs (birthday collisions also make 32-bit
    hamming-0 'dups' spurious there). Max 60 (md5-prefix width)."""
    if not (1 <= bits <= SIMHASH_MAX_BITS):
        raise ValueError(f"simhash bits must be 1..{SIMHASH_MAX_BITS}: {bits}")
    if hash_fn not in HASH_FNS:
        raise ValueError(f"hash_fn must be one of {sorted(HASH_FNS)}: {hash_fn!r}")
    # bits <= 32 keeps the 31-bit SQL-reproducible unit hash (bit 31 is
    # then constant-zero — historical oracle parity); wider simhashes
    # need the 60-bit hash so the high bits actually vary. 'xxhash64'
    # swaps in the single-call production hashes at either width.
    if hash_fn == "xxhash64":
        unit_hash = token_hash_xx if bits <= SIMHASH_BITS else token_hash_xx_wide
    else:
        unit_hash = token_hash if bits <= SIMHASH_BITS else token_hash_wide
    init = F.struct(
        F.lit(0).cast("long").alias("n"),
        *[F.lit(0).cast("long").alias(f"c{b}") for b in range(bits)],
    )

    def step(acc: Column, h: Column) -> Column:
        return F.struct(
            (acc["n"] + 1).alias("n"),
            *[
                (acc[f"c{b}"] + F.shiftright(h, b).bitwiseAND(1)).alias(f"c{b}")
                for b in range(bits)
            ],
        )

    def fin(acc: Column) -> Column:
        # bit b set iff sum over units of (+1 if bit set else -1) > 0,
        # i.e. 2*count_set > n
        sim = None
        for b in range(bits):
            term = F.when(
                acc[f"c{b}"] * 2 > acc["n"], F.lit(2 ** b).cast("long")
            ).otherwise(F.lit(0))
            sim = term if sim is None else (sim + term)
        return sim

    ua = doc_unit_arrays(df, id_col, text_col, ngram)
    folded = ua.select(
        F.col(id_col),
        F.aggregate(F.transform(F.col("units"), unit_hash), init, step).alias("acc"),
        F.size("units").alias("__nu"),
    )
    # docs with zero units had no rows after explode in the groupBy
    # shape -> keep parity by dropping them here too
    return folded.filter(F.col("__nu") > 0).select(
        F.col(id_col), fin(F.col("acc")).alias("simhash")
    )


def _simhash_band_slices(max_hamming: int, bits: int = SIMHASH_BITS):
    """k+1 (offset, width) bit-slices covering the hash evenly."""
    n = max_hamming + 1
    bounds = [i * bits // n for i in range(n + 1)]
    return [(bounds[i], bounds[i + 1] - bounds[i]) for i in range(n)]


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    ngram: int = 3,
    max_bucket: Optional[int] = None,
    banded: bool = True,
    bits: int = SIMHASH_BITS,
    hash_fn: str = "md5",
    dropped: Optional[Observation] = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= k, banded by pigeonhole:
    the ``bits``-wide hash splits into k+1 bit-slices, and any pair within
    Hamming distance k differs in at most k slices — so it agrees
    EXACTLY on at least one, and every qualifying pair surfaces from an
    equi-bucket of (band, slice value). One shuffle keyed by the band
    bucket, in-bucket pair expansion carrying both hashes (so the exact
    ``bit_count(xor)`` verify is free — no join back), identical result
    set to the all-pairs join at candidates-only cost. Banding trick per
    Manku et al. (WWW'07); the bucket-collect shape (vs. a self-join that
    would execute the simhash fold twice) matches lsh_candidate_pairs.

    ``max_bucket``: the 100 TB skew valve (``_valve``, ints or
    ``"auto"``) — slices shared by more than this many docs are dropped
    before |bucket|^2 expansion (members still pair through their other,
    more selective slices).
    ``banded=False`` keeps the quadratic reference shape for small-n
    verification only. ``bits``: at 10^9+ docs use wide hashes (up to
    60) — k+1 bands over 32 bits give only 2^(32/(k+1)) distinct slice
    values, so band buckets grow linearly with the corpus and the
    in-bucket expansion degenerates; 60-bit slices keep buckets sparse."""
    sh = simhash(df, id_col, text_col, ngram, bits=bits, hash_fn=hash_fn)
    if not banded:
        a = sh.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
        return (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), off)
                        .bitwiseAND((1 << w) - 1)
                        .alias("bucket"),
                    )
                    for i, (off, w) in enumerate(_simhash_band_slices(max_hamming, bits))
                ]
            )
        ).alias("bb"),
    ).select(
        id_col,
        "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    buckets = (
        bands.groupBy("band", "bucket")
        .agg(
            F.array_sort(
                F.collect_set(
                    F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh"))
                )
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    if max_bucket is not None:
        buckets, _ = _valve(buckets, F.size("ms"), max_bucket, dropped)
    return (
        _bucket_pairs(buckets, "ms", "__x", "__y")
        .select(
            F.col("__x")["id"].alias("id_a"),
            F.col("__y")["id"].alias("id_b"),
            F.bit_count(
                F.col("__x")["sh"].bitwiseXOR(F.col("__y")["sh"])
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# end-to-end corpus cleaning
# ---------------------------------------------------------------------------


def clean_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality: float = 0.3,
    jaccard_threshold: float = 0.9,
    ngram: int = 3,
    method: str = "exact",
    keep: str = "greedy",
    max_bucket: Union[int, None, str] = BY_HASH,
    hash_fn: str = "md5",
    dropped: Optional[Observation] = None,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """The flagship training-data pipeline: quality filter -> exact
    dedup -> near-dup dedup (keep the lowest-id member of every near-dup
    pair). Returns the surviving rows of ``df``.

    ``keep``: "greedy" drops any doc with a smaller-id near-dup PARTNER
    (cheap: one anti-join on the pair list; may keep >1 doc of a
    component connected only transitively). "component" drops every doc
    that is not the minimum of its connected component (transitive
    near-dup semantics — the standard for corpus dedup; adds the
    ``connected_components`` label propagation over the pair graph,
    whose cost is proportional to the pair set, not the corpus).
    "best" keeps the highest-QUALITY member of each component instead of
    the lowest id (ties -> lowest id) — quality-aware canonical
    selection; same cost shape as "component" plus one quality
    projection over the deduped corpus.

    Each stage is a narrowing semi/anti-join keyed on id, so the chain
    is shuffle-minimal and every stage's cost shrinks with the previous
    stage's selectivity — the shape you want at 100 TB.

    ``method``: "exact" = inverted-index jaccard pair search (the
    oracle-checkable baseline); "lsh" = MinHash-banded candidates with
    exact verification — the 100 TB path (cost ~ candidates, not pairs;
    recall < 1 with probability (1-s^b)^r per pair, negligible at
    s >= 0.9 with the default 4x2 banding); "simhash" = banded Hamming
    pairs (``jaccard_threshold`` is then the max Hamming distance, an
    int — the cheapest near-dup signal: one 60-bit signature per doc,
    no shingle verification join).

    ``max_bucket``: the 100 TB skew valve, passed through to the banded
    candidate generators (lsh/simhash). An LSH band bucket of size m
    expands to m*(m-1)/2 candidate pairs; on a boilerplate-heavy corpus
    a single hot bucket can dominate the whole job. Capping drops
    buckets larger than ``max_bucket`` (those docs are near-identical
    boilerplate — the cheap follow-up is exact dedup on the bucket key,
    which the preceding exact_dedup stage already approximates). This
    is a PRODUCTION entry point, so the valve defaults ON for the
    banded methods via the ``BY_HASH`` sentinel (md5 -> the constant
    DEFAULT_MAX_BUCKET = 4096 cap — the one measured super-linear mode
    at sf1 was exactly an unvalved hot bucket; ``hash_fn='xxhash64'``
    -> corpus-adaptive ``"auto"``); pass ``max_bucket=None`` explicitly
    for unbounded oracle-exact semantics, or ``"auto"`` to derive the
    cap from the corpus's own bucket-size distribution
    (AUTO_VALVE_FLOOR notes). An EXPLICIT cap with method="exact"
    (inverted-index join has no band buckets) raises rather than
    silently ignoring a scale valve the caller asked for; the
    ``BY_HASH``/``"default"`` sentinels are simply inapplicable there.
    ``hash_fn``: the minhash digest family for method="lsh" — 'md5'
    (oracle-reproducible default) or 'xxhash64' (production).
    ``dropped``: optional ``pyspark.sql.Observation`` recording
    ``dropped_buckets`` / ``dropped_docs`` when the valve fires (read
    ``dropped.get`` after the first action on the result).
    """
    from hindex_spark.operators.text import quality_score

    qualified = df.filter(quality_score(F.col(text_col)) >= min_quality)
    # The exact-deduped corpus feeds the signature scan, both sides of
    # candidate verification, and the final anti-join — persist it so the
    # quality + window-dedup chain runs once, not once per consumer. (At
    # 100 TB this intermediate would be a staged table; MEMORY_AND_DISK
    # is the single-job equivalent and spills instead of OOMing.)
    deduped = exact_dedup(qualified, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    resolved_bucket = _resolve_valve(max_bucket, hash_fn, md5_cap=DEFAULT_MAX_BUCKET)
    if method == "lsh":
        pairs = minhash_dedup_pairs(
            deduped, id_col, text_col, jaccard_threshold, ngram,
            max_bucket=resolved_bucket, hash_fn=hash_fn, dropped=dropped,
            n_hashes=n_hashes, band_size=band_size,
        )
    elif method == "simhash":
        if 0 < jaccard_threshold < 1:
            raise ValueError(
                "method='simhash' interprets the threshold as a MAX HAMMING "
                f"DISTANCE (an int >= 1, e.g. 3), not a similarity fraction: "
                f"got {jaccard_threshold!r}"
            )
        pairs = simhash_pairs(
            deduped, id_col, text_col, int(jaccard_threshold), ngram,
            max_bucket=resolved_bucket, bits=60, dropped=dropped,
        ).select("id_a", "id_b")
    else:
        if max_bucket is not None and max_bucket not in (BY_HASH, "default"):
            raise ValueError(
                "max_bucket applies to the banded methods ('lsh', 'simhash'); "
                "method='exact' has no band buckets to cap"
            )
        pairs = jaccard_pairs(deduped, id_col, text_col, jaccard_threshold, ngram)
    if keep == "component":
        comp = connected_components(pairs)
        losers = comp.filter(F.col("cluster_id") != F.col("id_a")).select(
            F.col("id_a").alias(id_col)
        )
    elif keep == "best":
        # Quality-aware canonical selection: keep the HIGHEST-quality
        # member of each near-dup component (ties -> lowest id) — what a
        # production pipeline wants when near-dups differ in cleanliness
        # (the min-id policies keep whichever copy crawled first).
        # Quality is rounded to 6dp on both engine and oracle so the
        # ranking never hinges on a ulp.
        from pyspark.sql import Window

        comp = connected_components(pairs)
        q = deduped.select(
            F.col(id_col), F.round(quality_score(F.col(text_col)), 6).alias("__q")
        )
        labeled = comp.withColumnRenamed("id_a", id_col).join(q, id_col)
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("__q").desc(), F.col(id_col)
        )
        losers = (
            labeled.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select(id_col)
        )
    else:
        # greedy: drop any doc that near-dups a SMALLER id (ids only ever
        # drop "later" copies, so survivors are exactly docs with no
        # smaller near-dup partner)
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return deduped.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# near-dup cluster assignment (connected components)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster assignment over the near-dup pair graph: every document
    that appears in >= 1 pair gets ``cluster_id`` = the smallest doc id
    in its connected component. (Pair lists say "a duplicates b";
    clusters are what a pipeline acts on — keep one doc per cluster.)
    Singletons are excluded by construction: at corpus scale you never
    materialize identity rows for the ~99% of docs with no near-dup.

    Algorithm: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbors' labels. Rounds
    needed = graph diameter; near-dup components are overwhelmingly
    small cliques (diameter 1-2), so this converges in 2-3 rounds.
    Each round is one join + one groupBy (two shuffles) on the LABEL
    table, whose size is |docs in any pair| — tiny relative to the
    corpus. ``localCheckpoint`` truncates lineage each round so the plan
    does not grow with iterations (same trick as streaming ingest).
    For adversarial long-chain graphs, switch to large-star/small-star
    (O(log n) rounds); not worth the constant factor here.

    Returns (node, cluster_id) under the original ``id_a`` column name.
    """
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(max_iter):
        prop = edges.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "label")
        new_labels = (
            labels.union(prop).groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint()
        changed = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, "node")
            .filter(F.col("new_label") != F.col("label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias(id_a), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns, computed in double
    (JVM-side zip_with/aggregate — no Python)."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(F.transform(da, lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x))
    nb = F.sqrt(F.aggregate(F.transform(db, lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x))
    return dot / (na * nb)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: Optional[str] = None,
) -> DataFrame:
    """Cosine >= threshold pairs. ``block_col`` keys the self-join (label,
    LSH bucket, ...) so the search is per-block, not global quadratic."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    joined = a.join(b, "blk") if block_col else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_expr(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
