"""Round-12 hardening: the hash-conditional LSH skew-valve default
(BY_HASH — the xxhash64 production path valves by default), the
default-valve drop accounting, and the four advisory fixes (AVI
nested-LIST recursion bomb, GIF LZW table cap, empty-Arrow-batch
stats schemas, bucket-sidecar validation)."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from hindex_spark.operators import dedup as dd


# ---------------------------------------------------------------------------
# LSH skew valve: BY_HASH default
# ---------------------------------------------------------------------------


def test_valve_sentinel_resolution():
    """BY_HASH: md5 stays unbounded (oracle-exact), every production
    hash valves corpus-adaptively; explicit settings pass through."""
    assert dd._resolve_valve(dd.BY_HASH, "md5") is None
    assert dd._resolve_valve(dd.BY_HASH, "xxhash64") == "auto"
    assert dd._resolve_valve("default", "md5") == dd.DEFAULT_MAX_BUCKET
    assert dd._resolve_valve("default", "xxhash64") == dd.DEFAULT_MAX_BUCKET
    assert dd._resolve_valve(None, "xxhash64") is None
    assert dd._resolve_valve(17, "md5") == 17
    assert dd._resolve_valve("auto", "md5") == "auto"


def test_by_hash_is_the_default():
    """The sentinel IS the signature default on every pair-search entry
    point — the 100 TB footgun (unvalved xxh banding: one sf1
    boilerplate bucket carried 22M of 26M candidate pairs) must need
    explicit max_bucket=None to re-arm."""
    import inspect

    from hindex_spark.operators.dedup_state import DedupState

    for fn in (dd.minhash_dedup_pairs, dd.minhash_join, dd.clean_corpus,
               dd.incremental_dedup, DedupState.dedup_batch):
        assert (
            inspect.signature(fn).parameters["max_bucket"].default == dd.BY_HASH
        ), fn.__name__


def _near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again "
    return spark.createDataFrame(
        [(1, base + "alpha"), (2, base + "alpha"), (3, base + "alphb"),
         (4, "completely different text with nothing shared at all here")],
        "doc_id long, text string",
    )


def test_xxh_default_equals_explicit_auto_and_md5_default_unbounded(spark):
    """Behavioral pin: the xxh default carries the auto valve (same
    result as max_bucket='auto'), and the md5 default is still
    bit-for-bit the unbounded oracle semantics."""
    docs = _near_dup_docs(spark)
    xx_default = sorted(
        (r["id_a"], r["id_b"])
        for r in dd.minhash_dedup_pairs(
            docs, "doc_id", "text", 0.8, hash_fn="xxhash64"
        ).collect()
    )
    xx_auto = sorted(
        (r["id_a"], r["id_b"])
        for r in dd.minhash_dedup_pairs(
            docs, "doc_id", "text", 0.8, hash_fn="xxhash64", max_bucket="auto"
        ).collect()
    )
    assert xx_default == xx_auto
    md5_default = sorted(
        (r["id_a"], r["id_b"])
        for r in dd.minhash_dedup_pairs(docs, "doc_id", "text", 0.8).collect()
    )
    md5_none = sorted(
        (r["id_a"], r["id_b"])
        for r in dd.minhash_dedup_pairs(
            docs, "doc_id", "text", 0.8, max_bucket=None
        ).collect()
    )
    assert md5_default == md5_none
    assert (1, 2) in md5_default and (1, 2) in xx_default


def test_default_valve_drop_accounting_observable(spark):
    """When the valve engages by DEFAULT (no caller Observation) the
    drop accounting must still exist — last_valve_drops() reads it
    after the first action."""
    docs = _near_dup_docs(spark)
    pairs = dd.minhash_dedup_pairs(docs, "doc_id", "text", 0.8,
                                   hash_fn="xxhash64")
    pairs.count()
    got = dd.last_valve_drops()
    assert got is not None
    assert set(got) == {"dropped_buckets", "dropped_docs"}
    assert got["dropped_buckets"] == 0  # tiny clean corpus: nothing dropped


def test_clean_corpus_and_incremental_take_hash_fn(spark):
    """hash_fn plumbs through the composed pipelines; verification is
    exact Jaccard either way so clear near-dups agree across digests."""
    docs = _near_dup_docs(spark)
    md5 = {r["doc_id"] for r in dd.clean_corpus(
        docs, "doc_id", "text", min_quality=0.0, jaccard_threshold=0.8,
        method="lsh").collect()}
    xx = {r["doc_id"] for r in dd.clean_corpus(
        docs, "doc_id", "text", min_quality=0.0, jaccard_threshold=0.8,
        method="lsh", hash_fn="xxhash64").collect()}
    assert md5 == xx == {1, 4}  # 2, 3 near-dup 1 at jaccard >= 0.8
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again alpha"),
         (11, "genuinely fresh content that matches nothing in the corpus")],
        "doc_id long, text string",
    )
    out = {r["doc_id"] for r in dd.incremental_dedup(
        new, docs, "doc_id", "text", threshold=0.8, hash_fn="xxhash64"
    ).collect()}
    assert out == {11}


def test_minhash_join_auto_valve(spark):
    """minhash_join accepts max_bucket='auto' (the xxh BY_HASH
    resolution) and still finds the clear cross-corpus pair."""
    docs = _near_dup_docs(spark)
    left = docs.filter(F.col("doc_id") % 2 == 1)
    right = docs.filter(F.col("doc_id") % 2 == 0)
    got = {(r["id_a"], r["id_b"]) for r in dd.minhash_join(
        left, right, "doc_id", "text", 0.8, hash_fn="xxhash64"
    ).collect()}
    assert (1, 2) in got


# ---------------------------------------------------------------------------
# advisory fixes
# ---------------------------------------------------------------------------


def test_avi_nested_list_bomb_total():
    """A crafted AVI that is nothing but nested LIST headers must parse
    to None (depth-capped iterative walk), not RecursionError."""
    import sys

    from hindex_spark.operators import videocodec as vc

    inner = b""
    for _ in range(5000):
        inner = b"LIST" + struct.pack("<I", 4 + len(inner)) + b"xxxx" + inner
    bomb = b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"AVI " + inner
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(500)
    try:
        assert vc.decode_avi(bomb) is None
    finally:
        sys.setrecursionlimit(old)


def test_video_and_audio_stats_survive_corrupt_blobs(spark):
    """The operator seam is a total function: crafted containers yield
    NULL fields / no rows, never a crash."""
    from hindex_spark.operators import multimodal as mm

    inner = b""
    for _ in range(2000):
        inner = b"LIST" + struct.pack("<I", 4 + len(inner)) + b"xxxx" + inner
    bomb = b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"AVI " + inner
    df = spark.createDataFrame([(1, bytearray(bomb))],
                               "doc_id long, blob binary")
    rows = mm.video_stats(df).collect()
    assert len(rows) == 1 and rows[0]["width"] is None
    assert mm.video_frame_features(df, every=1).count() == 0


def test_stats_operators_handle_empty_partitions(spark):
    """Empty Arrow batches (empty partitions) must still carry the full
    column set — dict-of-lists output, not a zero-column DataFrame."""
    from hindex_spark.operators import multimodal as mm

    empty = spark.createDataFrame([], "doc_id long, blob binary").repartition(3)
    assert mm.audio_stats(empty).count() == 0
    assert mm.video_stats(empty).count() == 0
    # and a partitioning that mixes empty + nonempty partitions
    docs = spark.createDataFrame([(1,)], "doc_id long").repartition(4)
    assert mm.audio_stats(mm.attach_audio_blob(docs)).count() == 1


def test_gif_lzw_table_capped_on_deferred_clear():
    """Deferred-clear streams must not grow the decoder table past the
    12-bit cap: decode a stream long enough to fill the table and check
    correctness (output equality is the observable; the cap keeps
    memory bounded)."""
    from hindex_spark.operators import imagecodec as ic

    # 2-bit codes, alternating pixels -> dictionary grows steadily; a
    # long enough stream crosses 4096 entries if uncapped. Encode with
    # the real encoder (re-CLEARs at 4096) and a synthetic no-clear
    # decode via the public decode path on a large encode.
    rng = np.random.default_rng(5)
    idx = rng.integers(0, 4, size=(120, 120), dtype=np.uint8)
    pal = [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
    gif = ic.encode_gif([idx], pal, 120, 120)
    w, h, ch, raster = ic.decode_image(gif)
    assert (w, h, ch) == (120, 120, 3)
    got = np.frombuffer(raster, dtype=np.uint8).reshape(120, 120, 3)
    exp = np.array(pal, dtype=np.uint8)[idx]
    assert (got == exp).all()


def test_bucket_sidecar_rejects_nonpositive(tmp_path):
    """A corrupt sidecar ('0', negative) falls back to None (caller's
    count), never flows into INTO {n} BUCKETS DDL."""
    from hindex_spark.catalog import Catalog

    d = tmp_path / "store"
    d.mkdir()
    for bad in ("0", "-3"):
        (d / "_buckets").write_text(bad)
        assert Catalog._sidecar_buckets(str(d)) is None
    (d / "_buckets").write_text("8")
    assert Catalog._sidecar_buckets(str(d)) == 8
    (d / "_buckets").write_text("garbage")
    assert Catalog._sidecar_buckets(str(d)) is None


def test_default_valve_counts_real_drops(spark):
    """When the valve actually fires (explicit small cap, boilerplate
    bucket), last_valve_drops() reports nonzero accounting and the
    dropped docs still appear through their other bands or not at all —
    never a crash, never phantom pairs."""
    bp = "terms of service apply to all content on this site " * 4
    docs = spark.createDataFrame(
        [(i, bp + w) for i, w in enumerate(["alpha", "beta", "gamma"])],
        "doc_id long, text string",
    )
    pairs = dd.minhash_dedup_pairs(docs, "doc_id", "text", 0.7,
                                   hash_fn="xxhash64", max_bucket=1)
    assert pairs.count() == 0  # every >=2 bucket dropped
    got = dd.last_valve_drops()
    assert got is not None and got["dropped_buckets"] > 0
    assert got["dropped_docs"] >= 2 * got["dropped_buckets"]


def test_cross_corpus_search_records_its_valve_drops(spark):
    """last_valve_drops() reports the most recent valved search,
    cross-corpus ones included: after a self search that dropped
    buckets, a minhash_join that drops nothing must read 0/0, not the
    self search's numbers."""
    bp = "terms of service apply to all content on this site " * 4
    docs = spark.createDataFrame(
        [(i, bp + w) for i, w in enumerate(["alpha", "beta", "gamma"])],
        "doc_id long, text string",
    )
    dd.minhash_dedup_pairs(docs, "doc_id", "text", 0.7,
                           hash_fn="xxhash64", max_bucket=1).count()
    assert dd.last_valve_drops()["dropped_buckets"] > 0
    left = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(2, "a completely different sentence about something else")],
        "doc_id long, text string",
    )
    dd.minhash_join(left, right, "doc_id", "text", 0.8,
                    max_bucket=4096).count()
    assert dd.last_valve_drops() == {"dropped_buckets": 0, "dropped_docs": 0}
