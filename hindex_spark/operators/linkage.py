"""Bounded-edit-distance record linkage (fuzzy matching) at corpus
scale: find all pairs of rows whose string key is within a Levenshtein
distance budget, WITHOUT the all-pairs comparison.

The reference's FuzzyRowFilter (FuzzyRowFilter.java:60) matches rowkeys
against a pattern with wildcard positions — per-scan fuzzy key matching.
This module is that capability as a corpus-level SET operation: instead
of one pattern vs every key, every key vs every key under a distance
bound — the entity-resolution / record-linkage primitive a
training-data pipeline needs for near-identical titles, author strings,
URLs, and source names.

Algorithm — the SymSpell deletion-neighborhood bound (public domain,
Garbe 2012, generalizing the Mor-Fraenkel deletion dictionary): if
``levenshtein(s, t) <= d`` then deleting at most ``d`` characters from
each of ``s`` and ``t`` can reach a COMMON string (each substitution
deletes one char from both sides, each insert/delete deletes one char
from one side). So:

1. SIGNATURES (map-only): every string emits its deletion neighborhood
   — all variants reachable by deleting up to ``d`` characters
   (``C(L, <=d)`` variants: L+1 at d=1, ~L^2/2 at d=2).
2. CANDIDATES (one shuffle keyed by variant): strings sharing a variant
   pair up (``dedup._bucket_pairs``, the LSH searches' in-bucket pair
   expansion) — sum-of-|bucket|^2 cost, the LSH contract, with a
   ``max_bucket`` boilerplate valve (a variant shared by thousands of
   keys is a formulaic stem, not a near-match signal, and its
   quadratic expansion is what blocking exists to avoid; true pairs
   still meet through their other, more selective variants).
3. VERIFY (JVM-side): exact ``levenshtein(a, b, threshold=d)`` on the
   candidate pairs — Spark's thresholded implementation early-exits at
   ``d+1``, so verification cost is O(d * min(len)) per candidate,
   not O(len^2).

Everything is built-in expressions (nested ``transform`` over character
positions) — no Python UDF anywhere; the signature stage is a pure map,
so at 100 TB the only shuffle is the variant-keyed candidate join.

``max_dist`` is capped at 2: the deletion neighborhood grows as
C(L, d), so d >= 3 on realistic key lengths explodes the signature
frame — at that radius use the n-gram/LSH family (operators/dedup.py),
which trades exactness for a flat signature width.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hindex_spark.operators.dedup import _bucket_pairs, _rotate_caches

#: the deletion-neighborhood radius this module supports (see module
#: docstring for why d >= 3 is refused)
MAX_SUPPORTED_DIST = 2


def _del1_expr(s: str, var: str) -> str:
    """SQL expression: all strings reachable from ``s`` (an expression)
    by deleting exactly ONE character; empty array for the empty
    string. ``var`` names the lambda variable (nested calls must not
    shadow)."""
    return (
        f"CASE WHEN length({s}) <= 0 THEN array() "
        f"ELSE transform(sequence(1, length({s})), {var} -> "
        f"concat(substring({s}, 1, {var} - 1), "
        f"substring({s}, {var} + 1, length({s}) - {var}))) END"
    )


def deletion_variants(text_expr: str, max_dist: int) -> F.Column:
    """The deletion neighborhood of ``text_expr`` (a SQL expression
    string) as an array column: the string itself plus every variant
    reachable by deleting up to ``max_dist`` characters, distinct."""
    if not 1 <= max_dist <= MAX_SUPPORTED_DIST:
        raise ValueError(
            f"max_dist must be 1..{MAX_SUPPORTED_DIST} (got {max_dist}); "
            "for larger radii use the n-gram/LSH family in "
            "operators/dedup.py"
        )
    d1 = _del1_expr(text_expr, "i")
    if max_dist == 1:
        return F.expr(f"array_distinct(concat(array({text_expr}), {d1}))")
    d2 = f"flatten(transform({d1}, v -> {_del1_expr('v', 'k')}))"
    return F.expr(
        f"array_distinct(concat(array({text_expr}), {d1}, {d2}))"
    )


def _variant_rows(df: DataFrame, id_col: str, text_col: str,
                  max_dist: int) -> DataFrame:
    """(id, variant): one row per (key, deletion variant) — the map-only
    signature stage. Null keys carry no signal and are dropped."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(deletion_variants(text_col, max_dist)).alias("variant"),
        )
    )


def _verified(pairs: DataFrame, df: DataFrame, id_col: str, text_col: str,
              max_dist: int, right: Optional[DataFrame] = None,
              right_id: Optional[str] = None,
              right_text: Optional[str] = None) -> DataFrame:
    """Join candidate id pairs back to their strings (two hash joins on
    the ids — candidates are bounded by the valve, strings never ride
    the variant shuffle) and keep pairs within the distance budget.
    Spark's thresholded levenshtein returns -1 beyond the budget."""
    a = df.select(F.col(id_col).alias("id_a"),
                  F.col(text_col).alias("__ta"))
    b = (right if right is not None else df).select(
        F.col(right_id or id_col).alias("id_b"),
        F.col(right_text or text_col).alias("__tb"),
    )
    dist = F.expr(f"levenshtein(__ta, __tb, {int(max_dist)})")
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    max_bucket: Union[int, None] = None,
) -> DataFrame:
    """All pairs within ``max_dist`` Levenshtein edits of each other:
    (id_a, id_b, dist) with id_a < id_b, exact under the bound (the
    deletion-neighborhood cover is a guarantee, not a heuristic — only
    the ``max_bucket`` valve, default off, can drop pairs, and only
    those whose EVERY shared variant is boilerplate-hot).

    The whole pipeline runs on DISTINCT strings: ids are grouped per
    string first, variants/candidates/verification price the distinct
    vocabulary, and the verified string pairs expand back through the
    id groups at the end (intra-group pairs are distance 0 by
    identity — no levenshtein runs for them). On corpora with heavy
    exact duplicity — every real crawl — this is the difference
    between verifying |distinct|-scale candidates and
    |corpus|^2-scale ones (measured: the 10x-duplicated sf1 customer
    table pays 15k-name verification for its ~27M output pairs).

    One text-keyed group, one map (signatures), one variant-keyed
    shuffle, a thresholded verify over distinct-string pairs, two
    group-expansion joins — the ``minhash_dedup_pairs`` cost shape
    with exactness instead of recall."""
    # ``groups`` feeds FOUR consumers (variant signatures, both sides
    # of the group expansion, and the intra-group pair pass): left
    # lazy, the scan + text-keyed collect_set aggregation executed four
    # times — the captured before-plan shows 4 parquet scans + 4
    # ObjectHashAggregate/Exchange towers for one call (guide §2.4:
    # duplicated subtrees). Persist the bounded (distinct-text, ids)
    # frame so the corpus is scanned and grouped ONCE; the cache
    # rotates out on the next pair-search call like the LSH caches.
    groups = (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(text_col)
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("__ids"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _rotate_caches(groups)
    reps = groups.select(F.col(text_col).alias("__t"))
    # The candidate shuffle is keyed by xxhash64(variant), not the
    # variant STRING (guide §2.3: shuffle 8-byte keys, not payloads —
    # the variant is within one char of the full key text). A hash
    # collision only MERGES two buckets, which can add candidate pairs
    # but never lose one (every true pair still shares its genuine
    # variant's bucket); added pairs are killed by the exact
    # levenshtein verify, so the result is identical. CAVEAT (capped
    # path only): with ``max_bucket`` set, a collision-MERGED bucket is
    # sized (and possibly dropped) as one unit, so a pair the unhashed
    # key would have kept can be lost if every one of its variants'
    # buckets collides into an over-cap merge — probability ~|variants|
    # * |buckets| / 2^64 per variant, astronomically small, and the
    # capped path is already lossy by design; the UNCAPPED default
    # stays exact unconditionally.
    rows = _variant_rows(reps, "__t", "__t", max_dist).select(
        F.xxhash64("variant").alias("__vk"), "__t"
    )
    buckets = (
        rows.groupBy("__vk")
        .agg(F.array_sort(F.collect_set(F.col("__t"))).alias("ts"))
        .filter(F.size("ts") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ts") <= max_bucket)
    cand = _bucket_pairs(buckets, "ts", "t_a", "t_b")
    # verify BEFORE dedup: a pair appears once per distinct shared
    # variant — measured ~2% duplication at sf0.1 (977.5k expanded vs
    # 956k distinct) — so distinct-first shuffled ~4x the rows the
    # post-verify distinct does (262.5k survive the distance bound);
    # the few duplicate levenshtein calls are O(d*len) early-exit each
    cand = (
        cand
        .withColumn("dist", F.expr(f"levenshtein(t_a, t_b, {int(max_dist)})"))
        .filter(F.col("dist") >= 0)
        .distinct()
    )
    # cross-group expansion: every id of t_a pairs with every id of
    # t_b; strings are distinct so each unordered id pair appears once
    ga = groups.select(F.col(text_col).alias("t_a"),
                       F.col("__ids").alias("__ia"))
    gb = groups.select(F.col(text_col).alias("t_b"),
                       F.col("__ids").alias("__ib"))
    cross = (
        cand.join(ga, "t_a").join(gb, "t_b")
        .select(F.explode("__ia").alias("ia"), F.col("__ib"), "dist")
        .select(
            F.col("ia"), F.explode("__ib").alias("ib"), "dist"
        )
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "dist",
        )
    )
    # intra-group pairs: identical strings, distance 0 by identity (on
    # a heavily-duplicated corpus these pairs DOMINATE the output: the
    # 10x-duplicated sf1 table's ~27M pairs are mostly intra-group)
    intra = _bucket_pairs(
        groups.filter(F.size("__ids") >= 2), "__ids", "id_a", "id_b"
    ).select("id_a", "id_b", F.lit(0).cast("int").alias("dist"))
    return cross.unionByName(intra)


def edit_distance_join(
    left: DataFrame,
    left_id: str,
    left_text: str,
    right: DataFrame,
    right_id: str,
    right_text: str,
    max_dist: int = 1,
    max_bucket: Union[int, None] = None,
) -> DataFrame:
    """Cross-table record linkage: (id_a from left, id_b from right,
    dist) for every cross pair within ``max_dist`` edits — the
    blocked-join shape of ``crosscorpus_minhash_join``, exact under the
    bound. ``max_bucket`` caps the per-variant bucket PRODUCT side:
    variants whose left-count x right-count exceeds it are dropped
    before expansion."""
    # variant-keyed shuffle carries xxhash64(variant), not the string —
    # same rationale and result-identity argument as edit_distance_pairs
    # (a collision merges buckets, never loses a pair; extras die in the
    # exact levenshtein verify). Same CAVEAT as edit_distance_pairs when
    # ``max_bucket`` is set: the left x right product is counted per
    # HASHED key, so a collision-merged key is capped as one unit and
    # can drop pairs the unhashed key would keep — vanishingly unlikely
    # (64-bit keys) and the capped path is lossy by design; uncapped
    # (the default) the result stays exact unconditionally.
    lv = _variant_rows(left, left_id, left_text, max_dist).select(
        F.col(left_id).alias("id_a"), F.xxhash64("variant").alias("variant")
    )
    rv = _variant_rows(right, right_id, right_text, max_dist).select(
        F.col(right_id).alias("id_b"), F.xxhash64("variant").alias("variant")
    )
    if max_bucket is not None:
        lc = lv.groupBy("variant").agg(F.count("*").alias("__nl"))
        rc = rv.groupBy("variant").agg(F.count("*").alias("__nr"))
        keep = (
            lc.join(rc, "variant")
            .filter(F.col("__nl") * F.col("__nr") <= max_bucket)
            .select("variant")
        )
        lv = lv.join(keep, "variant")
    cand = lv.join(rv, "variant").select("id_a", "id_b").distinct()
    return _verified(cand, left, left_id, left_text, max_dist,
                     right=right, right_id=right_id, right_text=right_text)
