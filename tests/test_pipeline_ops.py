"""Unit tests for the data-pipeline operators (dedup, similarity, text,
multimodal) on small controlled inputs."""

from pyspark.sql import functions as F

from hindex_spark.operators import dedup as dd
from hindex_spark.operators import multimodal as mm
from hindex_spark.operators import similarity as sim
from hindex_spark.operators import text as tx


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),        # near dup of 1
        (4, "completely different words entirely unrelated text here now"),
        (5, "short"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    docs = _docs(spark)
    groups = dd.exact_dedup_groups(docs, "doc_id", "text")
    g = {r["doc_id"]: r["dup_count"] for r in groups.collect()}
    assert g[1] == 2 and 2 not in g and g[3] == 1
    kept = dd.exact_dedup(docs, "doc_id", "text")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4, 5]


def test_shingles_and_jaccard(spark):
    docs = _docs(spark)
    units = dd.doc_units(docs, "doc_id", "text", ngram=3)
    per_doc = units.groupBy("doc_id").count().collect()
    n = {r["doc_id"]: r["count"] for r in per_doc}
    assert n[1] == 7  # 9 tokens -> 7 trigrams
    assert n[5] == 1  # short doc -> whole-text shingle
    pairs = dd.jaccard_pairs(docs, "doc_id", "text", 0.5, ngram=3).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in got)


def test_minhash_finds_exact_and_near_dups(spark):
    docs = _docs(spark)
    pairs = dd.minhash_dedup_pairs(docs, "doc_id", "text", 0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # identical -> all bands collide
    # candidates are approximate, but verified jaccard filters false pos
    for a, b in got:
        assert {a, b} <= {1, 2, 3}


def test_minhash_xxhash64_production_path(spark, sf_dir):
    """hash_fn='xxhash64' (the cheap production hash) must recall the
    clear near-dups the oracle-reproducible md5 path finds. Verification
    is exact Jaccard either way, so reported pairs are correct under
    both; only LSH candidate recall can differ, and only for pairs near
    the threshold (P[all 4 bands miss] = (1-j^2)^4 — ~1e-4 at j=0.9).
    So the pin: every HIGH-jaccard pair found by one hash family must be
    found by the other; near-threshold pairs may legitimately differ."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(400)
    md5_pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_dedup_pairs(docs, "doc_id", "text", 0.5).collect()
    }
    xx_pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_dedup_pairs(
            docs, "doc_id", "text", 0.5, hash_fn="xxhash64"
        ).collect()
    }
    high_md5 = {p for p, j in md5_pairs.items() if j >= 0.9}
    high_xx = {p for p, j in xx_pairs.items() if j >= 0.9}
    assert high_md5  # fixture really contains clear near-dups
    assert high_md5 <= set(xx_pairs) and high_xx <= set(md5_pairs)
    # verified jaccard values agree wherever both surfaced the pair
    for p in set(md5_pairs) & set(xx_pairs):
        assert md5_pairs[p] == xx_pairs[p]
    # it is genuinely a different hash family, not md5 renamed
    s_md5 = dd.minhash_signatures(docs.limit(5), "doc_id", "text").collect()
    s_xx = dd.minhash_signatures(
        docs.limit(5), "doc_id", "text", hash_fn="xxhash64"
    ).collect()
    assert {r["mh0"] for r in s_md5} != {r["mh0"] for r in s_xx}
    # signature job stays a pure map (no shuffle) on the fast path too
    plan = dd.minhash_signatures(
        docs, "doc_id", "text", hash_fn="xxhash64"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_simhash_xxhash64_banded_equals_allpairs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    for bits in (32, 60):
        banded = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dd.simhash_pairs(
                docs, "doc_id", "text", 3, bits=bits, hash_fn="xxhash64"
            ).collect()
        }
        quad = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dd.simhash_pairs(
                docs, "doc_id", "text", 3, bits=bits, hash_fn="xxhash64", banded=False
            ).collect()
        }
        assert banded == quad


def test_hash_fn_unknown_raises(spark):
    import pytest

    docs = _docs(spark)
    with pytest.raises(ValueError, match="hash_fn"):
        dd.minhash_signatures(docs, "doc_id", "text", hash_fn="sha1")
    with pytest.raises(ValueError, match="hash_fn"):
        dd.simhash(docs, "doc_id", "text", hash_fn="sha1")


def test_simhash_hamming(spark):
    docs = _docs(spark)
    sh = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs, "doc_id", "text").collect()}
    assert sh[1] == sh[2]  # identical text -> identical simhash
    assert 0 <= sh[1] < 2 ** 32
    pairs = dd.simhash_pairs(docs, "doc_id", "text", max_hamming=0).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(1, 2)}


def test_simhash_banded_equals_allpairs(spark, sf_dir):
    # pigeonhole guarantee: banded candidates lose NO qualifying pair —
    # result sets are identical to the quadratic join, for several k.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(400)
    for k in (0, 3, 7):
        banded = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dd.simhash_pairs(docs, "doc_id", "text", k).collect()
        }
        quad = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dd.simhash_pairs(docs, "doc_id", "text", k, banded=False).collect()
        }
        assert banded == quad


def test_embedding_near_dup_and_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.99, 0.1, 0.0], 0),   # near 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label int")
    pairs = dd.embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.95, block_col="label")
    got = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert got == [(1, 2)]

    queries = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    topk = sim.brute_force_topk(emb, queries, 2).collect()
    assert [r["vec_id"] for r in topk] == [2, 3]
    assert [r["rank"] for r in topk] == [1, 2]


def test_lsh_topk_self_consistent(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = sim.brute_force_topk(emb, queries, 5)
    approx = sim.lsh_topk(emb, queries, 5)
    # every ANN hit must be a true neighbor with the same cosine as exact
    ex = {(r["q_id"], r["vec_id"]): r["cosine"] for r in exact.collect()}
    ap = approx.collect()
    assert len(ap) > 0
    for r in ap:
        if (r["q_id"], r["vec_id"]) in ex:
            assert abs(ex[(r["q_id"], r["vec_id"])] - r["cosine"]) < 1e-9


def test_ivf_ann_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assignments, centroids = sim.ivf_build(emb, n_clusters=8, iters=2)
    assert centroids.count() == 8
    # every vector assigned exactly once
    assert assignments.count() == emb.count()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = sim.brute_force_topk(emb, queries, 10)
    approx = sim.ivf_topk(emb, assignments, centroids, queries, 10, nprobe=3)
    ex = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.3, f"recall {recall}"
    # scores for overlapping hits are the true cosines
    exd = {(r["q_id"], r["vec_id"]): r["cosine"] for r in exact.collect()}
    for r in approx.collect():
        if (r["q_id"], r["vec_id"]) in exd:
            assert abs(exd[(r["q_id"], r["vec_id"])] - r["cosine"]) < 1e-9


def test_text_metrics(spark):
    docs = spark.createDataFrame(
        [(1, "the quick fox."), (2, "a b"), (3, "xyzzy!!!")], ["doc_id", "text"]
    )
    out = tx.analyze(docs).collect()
    m = {r["doc_id"]: r for r in out}
    assert m[1]["n_tokens"] == 3
    assert m[1]["stopword_ratio"] > 0
    assert m[3]["punct_ratio"] > 0
    assert m[1]["fingerprint"] != m[2]["fingerprint"]
    # bag fingerprint is order-insensitive
    docs2 = spark.createDataFrame([(1, "fox the quick")], ["doc_id", "text"])
    bf1 = tx.analyze(docs2).collect()[0]["bag_fingerprint"]
    docs3 = spark.createDataFrame([(1, "quick fox the")], ["doc_id", "text"])
    bf2 = tx.analyze(docs3).collect()[0]["bag_fingerprint"]
    assert bf1 == bf2


def test_lang_id_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    out1 = docs.select("doc_id", tx.lang_id(F.col("text")).alias("l")).collect()
    out2 = docs.select("doc_id", tx.lang_id(F.col("text")).alias("l")).collect()
    assert out1 == out2
    assert all(r["l"] in tx.LANG_MARKERS for r in out1)


def test_multimodal_blob_and_features(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "worlds!")], ["doc_id", "text"])
    blobbed = mm.attach_blob(docs)
    assert dict(blobbed.dtypes)["blob"] == "binary"
    stats = {r["doc_id"]: r for r in mm.blob_stats(blobbed).collect()}
    assert stats[1]["blob_len"] == 5 and stats[2]["blob_len"] == 7
    feats = {r["doc_id"]: r for r in mm.extract_features(blobbed).collect()}
    assert feats[1]["n_bytes"] == 5
    assert feats[1]["mean_byte"] == sum(b"hello") / 5
    frames = mm.frame_sample(blobbed, every=3).collect()
    f1 = sorted((r["frame_no"], bytes(r["frame"])) for r in frames if r["doc_id"] == 1)
    assert f1 == [(0, b"hel"), (1, b"lo")]


def test_multimodal_features_oracle_utf8(spark, tmp_path):
    """The gate's DuckDB blob-byte-stats oracle (MM_FEATURES_ORACLE) must
    agree with the Spark mapInPandas path on MULTI-BYTE text — the r4
    gate asserted an ASCII precondition instead; this pins the UTF-8
    generalization (accents, CJK, emoji incl. a 4-byte astral char, and
    the empty string)."""
    import duckdb

    from hindex_spark.queries_pipeline import MM_FEATURES_ORACLE

    rows = [
        (1, "héllo wörld"),
        (2, "中文文本去重测试"),
        (3, "emoji \U0001F600 and café"),
        (4, ""),
        (5, "plain ascii"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)

    got = {
        r["doc_id"]: (r["n_bytes"], r["mean_byte"], r["max_byte"])
        for r in mm.extract_features(mm.attach_blob(docs)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
    want = {
        d: (n, m, x) for d, n, m, x in con.execute(MM_FEATURES_ORACLE).fetchall()
    }
    assert set(got) == set(want)
    for d in got:
        assert got[d][0] == want[d][0], (d, got[d], want[d])
        assert abs(got[d][1] - want[d][1]) < 1e-12, (d, got[d], want[d])
        assert got[d][2] == want[d][2], (d, got[d], want[d])
    # ground truth for one row: utf-8 bytes, not characters
    raw = rows[1][1].encode("utf-8")
    assert got[2] == (len(raw), sum(raw) / len(raw), max(raw))


def test_lsh_max_bucket_caps_pair_expansion(spark):
    docs = _docs(spark)
    # docs 1 and 2 are identical -> every band bucket holds both; with
    # max_bucket=1 every >=2 bucket is dropped, so no candidates survive
    sigs = dd.minhash_signatures(docs, "doc_id", "text", 3)
    assert dd.lsh_candidate_pairs(sigs, "doc_id", max_bucket=1).count() == 0
    # an unreachable cap changes nothing
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(sigs, "doc_id").collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(sigs, "doc_id", max_bucket=100).collect()
    }
    assert uncapped == capped and (1, 2) in uncapped


def test_connected_components_chain_and_cliques(spark):
    # components: {1,2,3} (triangle), {5,6} (pair), {8,9,10,11} (chain,
    # diameter 3 -> exercises multi-round propagation); 99 is a singleton
    # only if it appears in no pair (and must then be absent)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (5, 6), (8, 9), (9, 10), (10, 11)],
        "id_a long, id_b long",
    )
    got = {
        (r["id_a"], r["cluster_id"])
        for r in dd.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (5, 5), (6, 5),
        (8, 8), (9, 8), (10, 8), (11, 8),
    }


def test_clean_corpus_component_vs_greedy_policy(spark):
    # doc 3 bridges docs 1 and 2 (shares half its tokens with each) but
    # 1 and 2 share nothing: greedy keeps {1, 2} (3 is the only doc with
    # a smaller partner); component semantics collapse the whole chain
    # to its minimum {1}
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "eps zeta eta theta"),
         (3, "alpha beta gamma delta eps zeta eta theta")],
        "doc_id long, text string",
    )
    kw = dict(min_quality=0.0, jaccard_threshold=0.5, ngram=1)
    greedy = {r["doc_id"] for r in dd.clean_corpus(docs, "doc_id", "text", **kw).collect()}
    comp = {r["doc_id"] for r in dd.clean_corpus(
        docs, "doc_id", "text", keep="component", **kw).collect()}
    assert greedy == {1, 2}
    assert comp == {1}


def test_clean_corpus_plumbs_max_bucket_valve(spark):
    import pytest

    # 3 distinct docs sharing heavy boilerplate (they survive exact
    # dedup — texts differ) band-collide; with max_bucket=1 every >=2
    # bucket is dropped so all 3 survive; uncapped, near-dup pruning
    # keeps only the smallest id
    bp = "terms of service apply to all content on this site " * 4
    docs = spark.createDataFrame(
        [(i, bp + w) for i, w in enumerate(["alpha", "beta", "gamma"])],
        "doc_id long, text string",
    )
    kw = dict(min_quality=0.0, jaccard_threshold=0.7, method="lsh")
    uncapped = {r["doc_id"] for r in dd.clean_corpus(docs, "doc_id", "text", **kw).collect()}
    capped = {r["doc_id"] for r in dd.clean_corpus(
        docs, "doc_id", "text", max_bucket=1, **kw).collect()}
    assert uncapped == {0}
    assert capped == {0, 1, 2}
    # simhash branch takes the valve too
    sh = {r["doc_id"] for r in dd.clean_corpus(
        docs, "doc_id", "text", min_quality=0.0, jaccard_threshold=10,
        method="simhash", max_bucket=1).collect()}
    assert sh == {0, 1, 2}
    # the exact method has no band buckets: asking for the valve there
    # must fail loud, not silently skip it
    with pytest.raises(ValueError, match="max_bucket"):
        dd.clean_corpus(docs, "doc_id", "text", max_bucket=2)


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    from hindex_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_sample(docs, "lang", {"en": 0.5}, key_col="doc_id", default=0.1)
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in out.collect()}
    assert a == b and len(a) > 0  # deterministic, no RNG state
    n_en = docs.filter("lang = 'en'").count()
    k_en = out.filter("lang = 'en'").count()
    assert abs(k_en / n_en - 0.5) < 0.15  # rate roughly honored
    # default=0 drops unlisted strata entirely
    from hindex_spark.operators.sampling import stratified_cap

    only_en = stratified_sample(docs, "lang", {"en": 1.0}, key_col="doc_id")
    assert only_en.filter("lang != 'en'").count() == 0
    capped = stratified_cap(docs, "lang", 5, key_col="doc_id")
    sizes = {r["lang"]: r["n"] for r in capped.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert all(v == 5 for v in sizes.values())


def test_redact_pii_patterns(spark):
    from hindex_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-y.co.uk, ip 192.168.0.1, tel 555-0100-9999, keep 1.2.3 and v2.0")],
        ["id", "t"],
    )
    got = df.select(redact_pii(F.col("t")).alias("r")).collect()[0]["r"]
    assert "<EMAIL>" in got and "<IP>" in got and "<PHONE>" in got
    assert "a.b+c@" not in got and "192.168.0.1" not in got
    assert "1.2.3" in got  # three-part version strings survive


def test_decontaminate_drops_overlapping_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "totally unrelated content with zero benchmark words at all"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")], ["doc_id", "text"]
    )
    from hindex_spark.operators.packing import contaminated_ids, decontaminate

    # 8-gram rule: doc 1 contains the benchmark's full 8-gram
    flagged = contaminated_ids(docs, bench, ngram=8).collect()
    assert [r["doc_id"] for r in flagged] == [1]
    kept = decontaminate(docs, bench, ngram=8)
    assert [r["doc_id"] for r in kept.collect()] == [2]


def test_pack_sequences_invariants(spark, sf_dir):
    from hindex_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = pack_sequences(docs, budget=512).cache()
    try:
        assert out.count() == docs.count()  # every doc packed exactly once
        # pos is dense 0..k within each (shard, bin)
        bad = (
            out.groupBy("shard", "bin")
            .agg(F.count("*").alias("n"), F.max("pos").alias("mx"), F.min("pos").alias("mn"))
            .filter((F.col("mx") != F.col("n") - 1) | (F.col("mn") != 0))
        )
        assert bad.count() == 0
        # bin totals never exceed budget + first-doc overhang (< 2*budget)
        totals = out.groupBy("shard", "bin").agg(F.sum("n_tokens").alias("t"))
        assert totals.filter(F.col("t") >= 2 * 512).count() == 0
        # determinism
        a = sorted(map(tuple, out.collect()))
        b = sorted(map(tuple, pack_sequences(docs, budget=512).collect()))
        assert a == b
    finally:
        out.unpersist()


def test_simhash_wide_bits_banded_equals_allpairs(spark, sf_dir):
    # 60-bit simhash (the corpus-scale width): banded candidates still
    # lose no qualifying pair, and high bits actually vary.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    sh = dd.simhash(docs, "doc_id", "text", bits=60)
    hi = sh.select((F.col("simhash") >= (1 << 40)).alias("hi")).filter("hi").count()
    assert hi > 0  # wide hash uses the high bit range
    for k in (2, 5):
        banded = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dd.simhash_pairs(docs, "doc_id", "text", k, bits=60).collect()
        }
        quad = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dd.simhash_pairs(
                docs, "doc_id", "text", k, banded=False, bits=60
            ).collect()
        }
        assert banded == quad


def test_clean_corpus_simhash_method(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    out = dd.clean_corpus(
        docs, "doc_id", "text", min_quality=0.0, jaccard_threshold=3, method="simhash"
    )
    # manual replay: exact dedup, then drop docs with a smaller-id
    # partner within hamming 3 (60-bit banded)
    deduped = dd.exact_dedup(docs, "doc_id", "text")
    pairs = dd.simhash_pairs(deduped, "doc_id", "text", 3, bits=60)
    losers = {r["id_b"] for r in pairs.collect()}
    expect = {r["doc_id"] for r in deduped.collect()} - losers
    assert {r["doc_id"] for r in out.collect()} == expect


def test_stratified_sample_string_keys(spark):
    from hindex_spark.operators.sampling import stratified_cap, stratified_sample

    docs = spark.createDataFrame(
        [(f"cc-2019/{i:04d}", "en" if i % 2 else "de") for i in range(400)],
        ["doc_id", "lang"],
    )
    out = stratified_sample(docs, "lang", {"en": 0.5}, key_col="doc_id", default=0.25)
    n = out.count()
    assert 0 < n < 400  # string keys bucket, not NULL-drop
    capped = stratified_cap(docs, "lang", 7, key_col="doc_id")
    assert capped.groupBy("lang").count().filter("count != 7").count() == 0


def test_pack_sequences_string_ids_and_zero_lengths(spark):
    from hindex_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [("a", 0), ("b", 600), ("c", 100), ("d", None)],
        "doc_id string, n_tok int",
    )
    out = pack_sequences(docs, budget=512, length_col="n_tok", n_shards=2).collect()
    assert len(out) == 4
    assert all(r["bin"] >= 0 for r in out)          # no bin -1
    assert all(r["shard"] is not None for r in out)  # string ids bucket
    assert all(1 <= r["n_tokens"] <= 512 for r in out)


def test_clean_corpus_simhash_rejects_fraction_threshold(spark):
    import pytest

    docs = _docs(spark)
    with pytest.raises(ValueError, match="MAX HAMMING"):
        dd.clean_corpus(docs, "doc_id", "text", jaccard_threshold=0.9, method="simhash")


def test_dedup_lines_first_occurrence_semantics(spark):
    # lines = 3-word chunks; doc 2's only line duplicates doc 1's first
    # chunk -> doc 2 vanishes; doc 3 keeps only its novel tail chunk
    rows = [
        (1, "a b c d e f"),      # lines: "a b c", "d e f"
        (2, "a b c"),            # all lines seen in doc 1 -> dropped
        (3, "d e f x y z"),      # "d e f" dup -> keeps "x y z"
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: (r["text"], r["n_lines_kept"])
           for r in dd.dedup_lines(docs, "doc_id", "text", words_per_line=3).collect()}
    assert out == {1: ("a b c d e f", 2), 3: ("x y z", 1)}


def test_dedup_lines_short_doc_single_line(spark):
    docs = spark.createDataFrame([(1, "one two"), (2, "one two")], ["doc_id", "text"])
    out = dd.dedup_lines(docs, "doc_id", "text", words_per_line=10).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 1 and out[0]["text"] == "one two"


def test_minhash_join_cross_corpus(spark):
    left = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different words entirely unrelated text here now")],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "nothing in common with anything else at all whatsoever")],
        ["doc_id", "text"],
    )
    got = [(r["id_a"], r["id_b"]) for r in
           dd.minhash_join(left, right, "doc_id", "text", 0.5).collect()]
    assert got == [(1, 10)]


def test_minhash_join_max_bucket_valve(spark):
    # identical docs on both sides -> every band bucket has 3 members;
    # max_bucket=2 must drop them all (the skew valve)
    same = "w x y z " * 5
    left = spark.createDataFrame([(i, same) for i in range(3)], ["doc_id", "text"])
    right = spark.createDataFrame([(i + 10, same) for i in range(3)], ["doc_id", "text"])
    assert dd.minhash_join(left, right, "doc_id", "text", 0.9).count() == 9
    assert dd.minhash_join(left, right, "doc_id", "text", 0.9, max_bucket=2).count() == 0


def test_valve_defaults_on_for_production_entry_points(spark):
    # The production entry points default the skew valve ON
    # ("default" -> DEFAULT_MAX_BUCKET): tiny corpora are unaffected
    # (no bucket approaches 4096), and the sentinel resolves correctly.
    assert dd._resolve_valve("default") == dd.DEFAULT_MAX_BUCKET == 4096
    assert dd._resolve_valve(None) is None
    assert dd._resolve_valve(7) == 7
    # method="exact" with the (inapplicable) default sentinel must NOT
    # raise — only an explicit cap does
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    assert dd.clean_corpus(docs, "doc_id", "text", min_quality=0.0).count() == 1


def test_valve_drop_reporting_observation(spark):
    from pyspark.sql import Observation

    # dropped-bucket accounting rides the normal pass (df.observe — no
    # extra job): the 3-doc boilerplate cluster's (band, bucket) keys go
    # over max_bucket=2 and the Observation reports them, while the
    # genuine near-dup pair (8/9) still surfaces through its own buckets
    bp = "terms of service apply to all content on this site " * 4
    rows = [(i, bp + w) for i, w in enumerate(["alpha", "beta", "gamma"])] + [
        (8, "one two three four five six seven eight nine ten"),
        (9, "one two three four five six seven eight nine ten!"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("lsh_drops")
    pairs = dd.minhash_dedup_pairs(
        docs, "doc_id", "text", 0.5, max_bucket=2, dropped=obs
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # (8,9) surfaces normally; the boilerplate trio may still pair via
    # its more-selective under-cap bands (documented valve semantics) —
    # what matters here is that the over-cap buckets were counted
    assert (8, 9) in got
    m = obs.get
    assert m["dropped_buckets"] >= 1 and m["dropped_docs"] >= 3

    # cross-corpus join side: over-cap (side, band, bucket) keys reported
    same = "w x y z " * 5
    left = spark.createDataFrame(
        [(i, same) for i in range(3)] + [(8, "one two three four five six")],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [(i + 10, same) for i in range(3)] + [(18, "one two three four five six")],
        ["doc_id", "text"],
    )
    obs2 = Observation("join_drops")
    out = dd.minhash_join(
        left, right, "doc_id", "text", 0.9, max_bucket=2, dropped=obs2
    )
    got2 = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got2 == {(8, 18)}  # hot boilerplate dropped, real pair kept
    m2 = obs2.get
    assert m2["dropped_buckets"] >= 2 and m2["dropped_rows"] >= 6

    # unconditional accounting path: the skew profile names the hot buckets
    prof = dd.lsh_bucket_profile(
        dd.minhash_signatures(docs, "doc_id", "text", 3), "doc_id"
    ).collect()
    assert prof and prof[0]["size"] == 3


def test_trim_repeated_lines_within_doc_only(spark):
    rows = [
        (1, "a b c a b d"),   # 2-word lines: "a b","c a","b d" -> no repeats
        (2, "a b a b a b"),   # "a b" x3 -> keep first
        (3, "a b c d"),       # repeats in doc 1/2 don't affect doc 3
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: (r["text"], r["n_lines_kept"], r["n_lines_dropped"])
           for r in dd.trim_repeated_lines(docs, "doc_id", "text", words_per_line=2).collect()}
    assert out == {
        1: ("a b c a b d", 3, 0),
        2: ("a b", 1, 2),
        3: ("a b c d", 2, 0),
    }


def test_dedup_lines_matches_python_reference(spark):
    # property-style cross-check against a driver-side reference over a
    # deterministic pseudo-random corpus
    import random

    rng = random.Random(7)
    vocab = ["w%d" % i for i in range(12)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
            for i in range(60)]
    W = 4
    seen, expect = set(), {}
    for i, text in rows:
        toks = text.split()
        kept = []
        for s in range(0, len(toks), W):
            line = " ".join(toks[s:s + W])
            if line not in seen:
                seen.add(line)
                kept.append(line)
        if kept:
            expect[i] = (" ".join(kept), len(kept))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["text"], r["n_lines_kept"])
           for r in dd.dedup_lines(docs, "doc_id", "text", words_per_line=W).collect()}
    assert got == expect


def test_incremental_dedup_exact_and_near(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "some existing corpus content lives right here")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
         (11, "the quick brown fox jumps over the lazy dog today"),  # near dup of 1
         (12, "genuinely novel material unseen anywhere before now")],
        ["doc_id", "text"],
    )
    out = dd.incremental_dedup(new, corpus, "doc_id", "text", threshold=0.5)
    assert [r["doc_id"] for r in out.collect()] == [12]
    # batch-internal duplicates are NOT the batch-vs-corpus contract
    assert out.columns == new.columns


def test_dedup_state_matches_stateless_incremental(spark, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.dedup_state import DedupState

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "some existing corpus content lives right here")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
         (11, "the quick brown fox jumps over the lazy dog today"),  # near dup of 1
         (12, "genuinely novel material unseen anywhere before now")],
        ["doc_id", "text"],
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    try:
        st = DedupState.build(cat, corpus, "doc_id", "text", "c1", num_buckets=4)
        out = st.dedup_batch(new, corpus, threshold=0.5)
        stateless = dd.incremental_dedup(
            new, corpus, "doc_id", "text", threshold=0.5, max_bucket=None
        )
        assert sorted(r["doc_id"] for r in out.collect()) == sorted(
            r["doc_id"] for r in stateless.collect()
        ) == [12]
        assert out.columns == new.columns
        # reopen from disk: meta round-trips
        st2 = DedupState.open(cat, "c1")
        assert st2.ngram == 3 and st2.id_col == "doc_id"
        assert sorted(
            r["doc_id"] for r in st2.dedup_batch(new, corpus, 0.5).collect()
        ) == [12]
    finally:
        spark.sql("DROP TABLE IF EXISTS c1_dedupstate_bucketed")


def test_dedup_state_update_appends_batch(spark, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.dedup_state import DedupState

    corpus = spark.createDataFrame(
        [(1, "original corpus document with several distinct words")],
        ["doc_id", "text"],
    )
    b1 = spark.createDataFrame(
        [(10, "first accepted batch doc about sailing ships at sea")],
        ["doc_id", "text"],
    )
    b2 = spark.createDataFrame(
        [(20, "first accepted batch doc about sailing ships at sea today"),  # near dup of 10
         (21, "completely unrelated second batch material here now")],
        ["doc_id", "text"],
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    try:
        st = DedupState.build(cat, corpus, "doc_id", "text", "c2", num_buckets=4)
        acc1 = st.dedup_batch(b1, corpus, threshold=0.5)
        assert [r["doc_id"] for r in acc1.collect()] == [10]
        st.update(acc1)
        assert st.df.count() == 2  # appended, not rewritten
        # the union view the NEXT batch must dedup against
        corpus2 = corpus.unionByName(b1)
        acc2 = st.dedup_batch(b2, corpus2, threshold=0.5)
        # 20 near-dups the batch-1 doc that only exists in state via update()
        assert sorted(r["doc_id"] for r in acc2.collect()) == [21]
    finally:
        spark.sql("DROP TABLE IF EXISTS c2_dedupstate_bucketed")


def test_dedup_state_corpus_not_reshingled(spark, sf_dir, tmp_path):
    # The steady-state contract: dedup_batch's plan reads the corpus
    # parquet EXACTLY once (candidate verification, semi-joined to
    # candidate ids), so no per-batch corpus re-shingle. Signatures come
    # from the store's band side table, whose scan must appear in the
    # plan. Fingerprints come from the state table, read by the exact
    # pass under the batch-sized local checkpoint on ``fresh``, so the
    # result's plan shows that read only as an ExistingRDD scan.
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.dedup_state import DedupState

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    try:
        st = DedupState.build(cat, corpus, "doc_id", "text", "c3", num_buckets=4)
        batch = spark.createDataFrame(
            [(900001, "a brand new document for the daily batch")],
            "doc_id long, text string",
        )
        out = st.dedup_batch(batch, corpus, threshold=0.9)
        p = out._jdf.queryExecution().executedPlan().toString()
        assert p.count("documents.parquet") == 1  # verification scan only
        assert st.band_table_name in p             # signatures from the store
        assert out.count() == 1
    finally:
        for t in ("c3_dedupstate_bucketed", "c3_dedupstate_bands_bucketed"):
            spark.sql(f"DROP TABLE IF EXISTS `{cat.bucketed_sql_name(t)}`")


def test_shared_span_pairs_partial_overlap(spark):
    shared = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [(1, f"{shared} one two three"),
         (2, f"totally different opening words {shared}"),   # shares the 4-run
         (3, "no overlap with anything else at all")],
        ["doc_id", "text"],
    )
    got = {(r["id_a"], r["id_b"]): r["n_spans"]
           for r in dd.shared_span_pairs(docs, "doc_id", "text", span_tokens=4).collect()}
    assert got == {(1, 2): 1}
    # whole-doc jaccard at 3-shingles is far below near-dup thresholds:
    # the span op catches what jaccard_pairs(0.9) cannot
    assert dd.jaccard_pairs(docs, "doc_id", "text", 0.5, ngram=3).count() == 0


def test_shared_span_pairs_max_span_df_valve(spark):
    boiler = "standard footer text appended everywhere"
    docs = spark.createDataFrame(
        [(i, f"doc number {i} body {boiler}") for i in range(4)],
        ["doc_id", "text"],
    )
    full = dd.shared_span_pairs(docs, "doc_id", "text", span_tokens=5)
    assert full.count() == 6  # all pairs via the shared footer span
    capped = dd.shared_span_pairs(docs, "doc_id", "text", span_tokens=5, max_span_df=3)
    assert capped.count() == 0


def test_dedup_lines_null_text_dropped(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string"
    )
    out = dd.dedup_lines(docs, "doc_id", "text", words_per_line=2)
    assert [r["doc_id"] for r in out.collect()] == [1]
    trimmed = dd.trim_repeated_lines(docs, "doc_id", "text", words_per_line=2)
    assert [r["doc_id"] for r in trimmed.collect()] == [1]


def test_semantic_dedup_synthetic(spark):
    # two tight clusters far apart; each contains an exact near-dup pair
    base_a = [1.0] + [0.0] * 7
    base_b = [0.0] * 7 + [1.0]
    rows = [
        (1, base_a),
        (2, [0.99] + [0.01] * 7),          # near-dup of 1
        (3, [0.7, 0.7] + [0.0] * 6),       # same cluster, not a dup at 0.99
        (4, base_b),
        (5, [0.01] * 7 + [0.99]),          # near-dup of 4
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept, dropped = sim.semantic_dedup(emb, eps=0.95, n_clusters=2, iters=2)
    d = {r["vec_id"]: r["dup_of"] for r in dropped.collect()}
    assert d == {2: 1, 5: 4}
    assert sorted(r["vec_id"] for r in kept.collect()) == [1, 3, 4]
    # kept + dropped partition the corpus
    assert kept.count() + dropped.count() == emb.count()


def test_semantic_dedup_prune_rate(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kept, dropped = sim.semantic_dedup(emb, eps=0.35, n_clusters=8, iters=2)
    n = emb.count()
    assert kept.count() + dropped.count() == n
    # every dropped doc's exemplar is a smaller id that survived OR was
    # itself dropped for an even smaller exemplar — ids only point down
    for r in dropped.collect():
        assert r["dup_of"] < r["vec_id"]
        assert r["max_cosine"] >= 0.35


def test_mixture_resample_branches(spark):
    from hindex_spark.operators.sampling import mixture_resample

    rows = [(i, "a") for i in range(10)] + [(i, "b") for i in range(10, 14)] + [
        (i, "c") for i in range(14, 18)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    # budget 20: a -> rate 1.0 (exactly one copy each), b -> rate 2.5
    # (2 or 3 copies), c absent -> dropped
    out = mixture_resample(df, "lang", {"a": 0.5, "b": 0.5}, 20, key_col="doc_id")
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert per["a"] == 10            # rate exactly 1.0: no fractional extra
    assert 8 <= per["b"] <= 12       # rate 2.5: 2 copies + ~half get a 3rd
    assert "c" not in per
    # copies are 0-based and dense per row
    b_copies = out.filter(F.col("lang") == "b").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("copy")).alias("cs")).collect()
    for r in b_copies:
        assert r["cs"] == list(range(len(r["cs"])))
    # deterministic: same call twice, same rows
    again = mixture_resample(df, "lang", {"a": 0.5, "b": 0.5}, 20, key_col="doc_id")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_clean_corpus_keep_best_quality_member(spark):
    from hindex_spark.operators.text import quality_score

    # docs 1 and 2 near-dup; 2 has the longer, better-punctuated text ->
    # higher quality score, so keep="best" keeps 2 where min-id keeps 1
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " and then it rests. It sleeps well, truly."),
        (3, "totally unrelated text about completely different things here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    q = {r["doc_id"]: r["q"] for r in docs.select(
        "doc_id", quality_score(F.col("text")).alias("q")).collect()}
    assert q[2] > q[1]  # fixture sanity: 2 really is the better doc
    kw = dict(min_quality=0.0, jaccard_threshold=0.5, ngram=3)
    min_id = {r["doc_id"] for r in dd.clean_corpus(
        docs, "doc_id", "text", keep="component", **kw).collect()}
    best = {r["doc_id"] for r in dd.clean_corpus(
        docs, "doc_id", "text", keep="best", **kw).collect()}
    assert min_id == {1, 3}
    assert best == {2, 3}


def test_estimate_rows_footer_path_bounded_and_parallel(spark, tmp_path, monkeypatch):
    """_estimate_rows on a many-file bare scan must (a) never run a
    Spark count() job, (b) open at most _FOOTER_SAMPLE_CAP footers and
    extrapolate, (c) land within a few percent on a uniform layout."""
    import pyarrow.parquet as pq
    from pyspark.sql import DataFrame

    path = str(tmp_path / "many")
    spark.range(0, 4000).repartition(40).write.parquet(path)
    df = spark.read.parquet(path)
    n_files = len(df.inputFiles())
    assert n_files >= 30

    opened = []
    real_pf = pq.ParquetFile

    def counting_pf(p, *a, **k):
        opened.append(p)
        return real_pf(p, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", counting_pf)

    def no_count(self):
        raise AssertionError("footer path must not fall back to count()")

    monkeypatch.setattr(DataFrame, "count", no_count)
    monkeypatch.setattr(sim, "_FOOTER_SAMPLE_CAP", 8)
    est = sim._estimate_rows(df)
    assert len(opened) == 8  # capped, not one-per-file
    # uniform layout -> extrapolation is near-exact
    assert abs(est - 4000) <= 4000 * 0.15
    # exact when under the cap
    monkeypatch.setattr(sim, "_FOOTER_SAMPLE_CAP", 256)
    opened.clear()
    assert sim._estimate_rows(df) == 4000
    assert len(opened) == n_files


def test_estimate_rows_falls_back_on_filtered_plan(spark, tmp_path):
    path = str(tmp_path / "flt")
    spark.range(0, 100).write.parquet(path)
    df = spark.read.parquet(path).filter("id < 10")
    assert sim._estimate_rows(df) == 10  # count() fallback, correct


def test_pq_ann_recall(spark, sf_dir):
    """PQ codes + ADC shortlist + exact re-rank: encode covers every
    vector with valid 1-based codes; recall at a realistic shortlist is
    deterministic (hash-sample + first-k init + fixed iters) and high;
    re-ranked scores are true cosines."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cbs = sim.pq_train(emb, m=8, k=16)
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0]) == 8
    codes = sim.pq_encode(emb, cbs)
    assert codes.count() == emb.count()
    rng = codes.select(
        F.min(F.array_min("codes")).alias("lo"), F.max(F.array_max("codes")).alias("hi")
    ).collect()[0]
    assert 1 <= rng["lo"] and rng["hi"] <= 16
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = sim.brute_force_topk(emb, queries, 10)
    approx = sim.pq_topk(emb, codes, cbs, queries, 10, shortlist=100)
    ex = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.8, f"recall {recall}"
    exd = {(r["q_id"], r["vec_id"]): r["cosine"] for r in exact.collect()}
    for r in approx.collect():
        if (r["q_id"], r["vec_id"]) in exd:
            assert abs(exd[(r["q_id"], r["vec_id"])] - r["cosine"]) < 1e-9


def test_repetition_ratio_short_docs_no_ansi_crash(spark):
    # Docs with fewer than n tokens crashed with
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI mode (Spark 4 default);
    # they must score 0 via the whole-text-window rule instead (same rule
    # as the text_gopher_rules oracle).
    from pyspark.sql import functions as F

    from hindex_spark.operators import text as tx

    df = spark.createDataFrame(
        [("d1", "one two"), ("d2", "x"), ("d3", "a b a b a b")], ["doc_id", "text"]
    )
    out = df.select(
        "doc_id", F.round(tx.repetition_ratio(tx.tokens(F.col("text"))), 4).alias("r")
    ).collect()
    got = {r["doc_id"]: r["r"] for r in out}
    assert got["d1"] == 0.0 and got["d2"] == 0.0 and got["d3"] > 0.4


def test_ivf_topk_prejoined_store_identical(spark, sf_dir):
    """ivf_topk over a materialized cluster store (assignments carrying
    the vector column — the persisted IVF index layout) must return
    exactly what the separate-frames shape returns."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assignments, centroids = sim.ivf_build(emb, n_clusters=8, iters=2)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    split = sim.ivf_topk(emb, assignments, centroids, queries, 10, nprobe=3)
    store = emb.join(assignments, "vec_id")
    fused = sim.ivf_topk(emb, store, centroids, queries, 10, nprobe=3)
    a = sorted(map(tuple, split.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert a == b


def test_multimodal_resize_exact_bytes(spark):
    """resize_blobs picks exactly the evenly-strided bytes (the
    deterministic stand-in contract a real Image.resize replaces)."""
    df = spark.createDataFrame(
        [(1, "x" * 6), (2, "abcdefghijklmnopqrstuvwxyz" * 10)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in mm.resize_blobs(mm.attach_blob(df), target_bytes=8).collect()
    }
    # short payload (n <= target): unchanged
    assert bytes(out[1]["blob"]) == b"x" * 6
    assert out[1]["out_bytes"] == 6 and out[1]["in_bytes"] == 6
    # long payload: int(i * n/8) strided pick
    payload = ("abcdefghijklmnopqrstuvwxyz" * 10).encode()
    n = len(payload)
    expect = bytes(payload[int(i * (n / 8))] for i in range(8))
    assert bytes(out[2]["blob"]) == expect
    assert out[2]["out_bytes"] == 8 and out[2]["in_bytes"] == n


def test_pq_topk_accepts_string_query_ids(spark, sf_dir):
    # brute_force_topk imposes no id type; pq_topk shares its output
    # contract, so a hardcoded long q_id schema in the broadcast LUT
    # frame crashed string-keyed query sets.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cbs = sim.pq_train(emb, m=8, k=16)
    codes = sim.pq_encode(emb, cbs)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.concat(F.lit("q"), F.col("vec_id")).alias("q_id"),
        F.col("embedding").alias("q_vec"),
    )
    out = sim.pq_topk(emb, codes, cbs, queries, k=5, shortlist=50).collect()
    assert {r["q_id"] for r in out} == {"q0", "q1", "q2"}
    assert all(r["rank"] <= 5 for r in out)


def test_ivf_build_degenerate_sample_widens_never_full_scan(spark, monkeypatch):
    """A wildly-off row estimate makes the hash sample come back short;
    ivf_build must WIDEN the sample a bounded number of times and then
    error — never TakeOrdered over the full corpus (a 100 TB scan+sort
    for a should-never-happen path)."""
    import pytest

    import hindex_spark.operators.similarity as sim

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )

    # estimate inflated 64x: first sample is ~3 rows, one widening fixes it
    monkeypatch.setattr(sim, "_estimate_rows", lambda df: 200 * 64)
    assignments, cents = sim.ivf_build(emb, n_clusters=4, iters=1, sample_size=10)
    assert assignments.count() == 200
    assert cents.count() == 4

    # estimate inflated 64^5x: three widenings still short -> loud error
    monkeypatch.setattr(sim, "_estimate_rows", lambda df: 200 * 64**5)
    with pytest.raises(ValueError, match="widenings"):
        sim.ivf_build(emb, n_clusters=4, iters=1, sample_size=10)


def test_domain_operators(spark, sf_dir):
    """Domain-level curation: stats aggregate, blocklist filter (pushed
    to the scan), deterministic per-domain cap."""
    from hindex_spark.operators import text as tx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = tx.domain_stats(docs)
    assert set(stats.columns) == {"domain", "n_docs", "n_unique", "avg_quality", "avg_chars"}
    total = stats.agg(F.sum("n_docs")).first()[0]
    assert total == docs.count()

    filtered = tx.domain_filter(docs, blocklist=["src0"])
    assert filtered.filter(F.col("source") == "src0").count() == 0
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "src0" in plan  # predicate reaches the scan

    capped = tx.domain_cap(docs, max_per_domain=3)
    per = capped.groupBy("source").count().agg(F.max("count")).first()[0]
    assert per <= 3
    # deterministic: lowest ids survive
    low = capped.filter(F.col("source") == "src0").agg(F.collect_set("doc_id")).first()[0]
    expect = [r["doc_id"] for r in docs.filter(F.col("source") == "src0")
              .orderBy("doc_id").limit(3).collect()]
    assert sorted(low) == expect


# --- PIL real-decode seam (round 7) ------------------------------------

def test_multimodal_auto_decode_falls_back_to_stub(spark):
    """decode="auto" on non-image payloads (all synthetic utf-8 blobs)
    must be bit-identical to decode="stub" — this is what keeps the
    oracle gates stable whether or not Pillow is installed."""
    df = mm.attach_blob(
        spark.createDataFrame([(1, "hello"), (2, "wörld🙂"), (3, "")], ["doc_id", "text"])
    )
    auto = sorted(mm.extract_features(df, decode="auto").collect())
    stub = sorted(mm.extract_features(df, decode="stub").collect())
    assert auto == stub


def _pil_or_none():
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


import pytest  # noqa: E402


def test_multimodal_real_decode(spark):
    """extract_features decodes REAL pixels in every environment: a 2x2
    grayscale PNG with known raster yields pixel (not file-byte) stats —
    via Pillow when installed, via the pure-stdlib codec
    (operators/imagecodec.py) otherwise."""
    from hindex_spark.operators import imagecodec as ic

    payload = ic.encode_png(bytes([0, 10, 20, 250]), 2, 2, 1)

    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, blob binary")
    row = mm.extract_features(df).first()
    assert row["n_bytes"] == len(payload)       # payload size, not raster size
    assert row["max_byte"] == 250                # pixel max, not PNG-byte max
    assert abs(row["mean_byte"] - (0 + 10 + 20 + 250) / 4) < 1e-9


def test_multimodal_real_resize(spark):
    """target_size opts resize_blobs into a real decode + NEAREST
    resize + PNG re-encode in every environment; the output blob must
    decode to the requested dimensions with the resampled pixels."""
    from hindex_spark.operators import imagecodec as ic

    raster = bytes([200, 10, 10] * 64)  # 8x8 solid RGB
    payload = ic.encode_png(raster, 8, 8, 3)

    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, blob binary")
    row = mm.resize_blobs(df, target_size=(3, 2)).first()
    out = ic.decode_image(bytes(row["blob"]))
    assert out is not None
    w, h, ch, r = out
    assert (w, h, ch) == (3, 2, 3)
    assert r == bytes([200, 10, 10] * 6)
    assert row["out_bytes"] == len(bytes(row["blob"]))


def test_multimodal_pure_codec_cross_checked(spark):
    """The pure codec's ENCODER is validated against an independent
    reader in every environment: a test-local mini-decoder written
    straight from the PNG spec (signature, IHDR parse, zlib inflate,
    filter-0 reconstruction, CRC verification) — a separate
    implementation from operators/imagecodec.py, so a codec bug cannot
    self-confirm. (The decoder direction is covered by the
    adversarially hand-built PNGs in tests/test_imagecodec.py.) When
    Pillow is ALSO available, the same payloads additionally
    cross-check byte-for-byte against it."""
    import io
    import struct
    import zlib

    from hindex_spark.operators import imagecodec as ic

    def spec_read_png(payload):
        # independent minimal reader: 8-bit, filter-0 rows only (all
        # encode_png ever emits); raises on any CRC/shape violation
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        pos, w, h, color, idat = 8, None, None, None, b""
        while pos < len(payload):
            (ln,) = struct.unpack(">I", payload[pos:pos + 4])
            ctype = payload[pos + 4:pos + 8]
            data = payload[pos + 8:pos + 8 + ln]
            (crc,) = struct.unpack(
                ">I", payload[pos + 8 + ln:pos + 12 + ln]
            )
            assert crc == (zlib.crc32(ctype + data) & 0xFFFFFFFF)
            if ctype == b"IHDR":
                w, h, depth, color, comp, filt, inter = struct.unpack(
                    ">IIBBBBB", data
                )
                assert depth == 8 and comp == 0 and filt == 0 and inter == 0
            elif ctype == b"IDAT":
                idat += data
            pos += 12 + ln
        ch = {0: 1, 4: 2, 2: 3, 6: 4}[color]
        scan = zlib.decompress(idat)
        stride = w * ch
        out = bytearray()
        for y in range(h):
            row = scan[y * (stride + 1):(y + 1) * (stride + 1)]
            assert row[0] == 0, "encoder claimed filter 0"
            out += row[1:]
        return w, h, ch, bytes(out)

    for ch in (1, 2, 3, 4):
        raster = bytes((i * 13 + ch * 5) % 256 for i in range(4 * 4 * ch))
        payload = ic.encode_png(raster, 4, 4, ch)
        assert spec_read_png(payload) == (4, 4, ch, raster)

    Image = _pil_or_none()
    if Image is not None:
        raster = bytes(range(48))  # 4x4 RGB gradient
        payload = ic.encode_png(raster, 4, 4, 3)
        with Image.open(io.BytesIO(payload)) as img:
            assert img.size == (4, 4)
            assert img.tobytes() == raster
        buf = io.BytesIO()
        img2 = Image.frombytes("RGB", (4, 4), raster)
        img2.save(buf, format="PNG")
        assert ic.decode_image(buf.getvalue()) == (4, 4, 3, raster)


# --- parameterized MinHash family (round 7) ----------------------------

def test_minhash_wide_family_shape_and_determinism(spark):
    """n_hashes widens the signature (mh0..mh15); the first 8 columns
    are IDENTICAL to the default family (the oracle-pinned constants are
    a strict prefix of the extended coefficient sequence)."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        ["doc_id", "text"],
    )
    s8 = dd.minhash_signatures(docs, "doc_id", "text", 3)
    s16 = dd.minhash_signatures(docs, "doc_id", "text", 3, n_hashes=16)
    assert [c for c in s16.columns if c.startswith("mh")] == [f"mh{i}" for i in range(16)]
    a = {r["doc_id"]: r for r in s8.collect()}
    b = {r["doc_id"]: r for r in s16.collect()}
    for i in (1, 2):
        assert all(a[i][f"mh{j}"] == b[i][f"mh{j}"] for j in range(8))


def test_minhash_tuned_band_verified_pairs_subset_and_recall(spark):
    """(16, 4) banding: every verified pair is exact-Jaccard correct
    (subset of the exact inverted-index pairs), and on an extreme
    near-dup fixture (one token changed in a 60-token doc, s ~ 0.95)
    recall is total for these fixed hash constants."""
    base = " ".join(f"tok{i}" for i in range(60))
    variant = base.replace("tok30", "tokX")          # near-dup of base
    other = " ".join(f"zz{i}" for i in range(60))    # unrelated
    docs = spark.createDataFrame(
        [(1, base), (2, variant), (3, other)], ["doc_id", "text"]
    )
    tuned = dd.minhash_dedup_pairs(
        docs, "doc_id", "text", 0.8, n_hashes=16, band_size=4
    ).collect()
    exact = dd.jaccard_pairs(docs, "doc_id", "text", 0.8, ngram=3).collect()
    t = {(r["id_a"], r["id_b"]) for r in tuned}
    e = {(r["id_a"], r["id_b"]) for r in exact}
    assert t == {(1, 2)} and t <= e


def test_minhash_band_size_reduces_candidates(spark):
    """Wider bands are strictly more selective: (16, 4) candidates are a
    subset of what the (8, 2) family surfaces on a mixed corpus (both
    post-verification outputs stay identical on true near-dups)."""
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(20)]
    rows.append((100, rows[0][1]. replace("w0_5", "q")))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    c82 = dd.lsh_candidate_pairs(
        dd.minhash_signatures(docs, "doc_id", "text", 3), "doc_id"
    ).count()
    c164 = dd.lsh_candidate_pairs(
        dd.minhash_signatures(docs, "doc_id", "text", 3, n_hashes=16),
        "doc_id", band_size=4,
    ).count()
    assert c164 <= c82
    # the true near-dup pair survives the tighter family
    tuned = dd.minhash_dedup_pairs(
        docs, "doc_id", "text", 0.7, n_hashes=16, band_size=4
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in tuned} == {(0, 100)}


def test_dedup_state_tuned_family_roundtrip(spark, sf_dir, tmp_path):
    """A DedupState built with the tuned (16, 4) family persists the
    family in its meta, reopens with it, and dedups a batch identically
    to the direct tuned incremental path."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.dedup_state import DedupState

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0).limit(200)

    cat = Catalog(spark, str(tmp_path / "wh"))
    st = DedupState.build(
        cat, corpus, "doc_id", "text", "docs_t", n_hashes=16, band_size=4
    )
    st2 = DedupState.open(cat, "docs_t")
    assert (st2.n_hashes, st2.band_size) == (16, 4)
    assert "mh15" in st2.df.columns

    got = sorted(
        r["doc_id"] for r in st2.dedup_batch(batch, corpus, 0.9).collect()
    )
    want = sorted(
        r["doc_id"]
        for r in dd.incremental_dedup(
            batch, corpus, "doc_id", "text", 0.9,
            n_hashes=16, band_size=4,
        ).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# DSIR importance resampling (operators/importance.py)
# ---------------------------------------------------------------------------


def test_dsir_weights_favor_target_like_docs(spark):
    from hindex_spark.operators import importance as imp

    # target corpus speaks "physics"; raw corpus is half physics half ads
    rows = [
        (1, "quantum field theory of gauge bosons", 1),
        (2, "lattice quantum chromodynamics on the gauge field", 1),
        (3, "buy cheap pills online click here now", 0),
        (4, "click here buy now cheap cheap pills", 0),
        (5, "gauge theory of the quantum field", 0),  # target-like, not in target
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_target int")
    t = imp.bucket_counts(df.filter(F.col("is_target") == 1), "text")
    r = imp.bucket_counts(df, "text")
    ratios = imp.log_ratio_table(t, r)
    w = {
        x["doc_id"]: x["weight"]
        for x in imp.importance_weights(df, "doc_id", "text", ratios).collect()
    }
    assert len(w) == 5
    # the physics-flavored held-out doc must outrank both ad docs
    assert w[5] > w[3] and w[5] > w[4]
    # and in-target docs outrank ads too
    assert min(w[1], w[2]) > max(w[3], w[4])


def test_dsir_select_topk_matches_weights(spark):
    from hindex_spark.operators import importance as imp

    rows = [(i, f"token{i % 7} token{(i + 1) % 7} filler common words") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = F.col("doc_id") % 7 == 0
    sel = imp.dsir_select(df, "doc_id", "text", target, 10).collect()
    assert len(sel) == 10
    t = imp.bucket_counts(df.filter(target), "text")
    r = imp.bucket_counts(df, "text")
    weights = imp.importance_weights(
        df, "doc_id", "text", imp.log_ratio_table(t, r)
    ).collect()
    expected = sorted(weights, key=lambda x: (-x["weight"], x["doc_id"]))[:10]
    assert [s["doc_id"] for s in sel] == [e["doc_id"] for e in expected]


def test_dsir_unseen_bucket_uses_constant_default(spark):
    import math

    from hindex_spark.operators import importance as imp

    fit = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")], "doc_id long, text string"
    )
    t = imp.bucket_counts(fit.filter(F.col("doc_id") == 1), "text")
    r = imp.bucket_counts(fit, "text")
    ratios = imp.log_ratio_table(t, r)
    # score a doc whose every n-gram is outside BOTH fit corpora: each of
    # its units must get the constant default log((R+B)/(T+B)) (rounded
    # to 6dp), summed over the unit count
    novel = spark.createDataFrame(
        [(9, "zeta eta theta")], "doc_id long, text string"
    )
    got = imp.importance_weights(novel, "doc_id", "text", ratios).collect()[0]["weight"]
    t_tot = t.agg(F.sum("cnt")).collect()[0][0]  # 5 units (3 uni + 2 bi)
    r_tot = r.agg(F.sum("cnt")).collect()[0][0]
    b = imp.N_BUCKETS
    default = round(math.log(1.0 / (t_tot + b)) - math.log(1.0 / (r_tot + b)), 6)
    n_units = 5  # 3 unigrams + 2 bigrams
    assert abs(got - default * n_units) < 1e-9


def test_dsir_null_text_scores_zero(spark):
    from hindex_spark.operators import importance as imp

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, None)], "doc_id long, text string"
    )
    t = imp.bucket_counts(df.filter(F.col("doc_id") == 1), "text")
    ratios = imp.log_ratio_table(t, imp.bucket_counts(df, "text"))
    w = {
        x["doc_id"]: x["weight"]
        for x in imp.importance_weights(df, "doc_id", "text", ratios).collect()
    }
    assert w[2] == 0.0 and len(w) == 2


def test_lm_cross_entropy_ranks_target_like_docs_lower(spark):
    from hindex_spark.operators import importance as imp

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick red fox jumps over the lazy cat", "en"),
        (3, "zzz qqq xxx www vvv kkk jjj", "xx"),
        (4, "the quick brown dog jumps over the lazy fox", "xx"),  # en-like
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    t = imp.bucket_counts(df.filter(F.col("lang") == "en"), "text")
    h = {r["doc_id"]: r["h"] for r in imp.lm_cross_entropy(df, "doc_id", "text", t).collect()}
    assert len(h) == 4
    # gibberish doc has the highest cross-entropy; the en-like held-out
    # doc sits below it
    assert h[3] > h[4]
    assert h[3] > max(h[1], h[2])


def test_perplexity_partition_exact_tertiles(spark):
    from hindex_spark.operators import importance as imp

    rows = [(i, " ".join(f"w{(i * j) % 11}" for j in range(8)), "en" if i % 3 == 0 else "xx")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    t = imp.bucket_counts(df.filter(F.col("lang") == "en"), "text")
    out = imp.perplexity_partition(df, "doc_id", "text", t).collect()
    assert len(out) == 30
    by_label = {}
    for r in out:
        by_label.setdefault(r["bucket3"], []).append((r["h"], r["doc_id"]))
    assert {len(v) for v in by_label.values()} == {10}
    # the split is a real ordering: every head (h, id) precedes every
    # middle, every middle precedes every tail
    assert max(by_label["head"]) < min(by_label["middle"])
    assert max(by_label["middle"]) < min(by_label["tail"])


def test_lsh_auto_valve_floor_and_outlier_drop(spark, monkeypatch, tmp_path):
    import hindex_spark.operators.dedup as ddm

    # 20 identical boilerplate docs (one hot bucket per band) + two
    # genuine near-dup pairs
    rows = [(i, "the same boilerplate footer text repeated everywhere") for i in range(20)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta iota"),
        (200, "one two three four five six seven eight"),
        (201, "one two three four five six seven nine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = ddm.minhash_signatures(df, "doc_id", "text")
    unbounded = ddm.lsh_candidate_pairs(sigs, "doc_id", None).count()
    # at test scale every bucket is under AUTO_VALVE_FLOOR: auto == unbounded
    assert ddm.lsh_candidate_pairs(sigs, "doc_id", "auto").count() == unbounded
    # shrink the floor so the boilerplate bucket becomes the outlier the
    # heuristic exists to drop; the genuine near-dup pairs must survive
    monkeypatch.setattr(ddm, "AUTO_VALVE_FLOOR", 4)
    monkeypatch.setattr(ddm, "AUTO_VALVE_MULT", 0)
    capped = ddm.lsh_candidate_pairs(sigs, "doc_id", "auto")
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got and (200, 201) in got
    assert len(got) < unbounded
    # clean_corpus plumbs the sentinel end-to-end
    out = ddm.clean_corpus(
        df, "doc_id", "text", 0.0, 0.9, method="lsh", max_bucket="auto"
    )
    assert out.count() >= 3  # one boilerplate survivor + near-dup keepers
    # DedupState reads the same patched floor/multiplier: the boilerplate
    # bucket is dropped, so a near-copy of the footer finds no candidate
    # and survives, while a near-copy of a genuine pair is still caught
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.dedup_state import DedupState

    st = DedupState.build(Catalog(spark, str(tmp_path / "wh")), df,
                          "doc_id", "text", "auto_valve", num_buckets=4)
    batch = spark.createDataFrame(
        [(300, "the same boilerplate footer text repeated everywhere again"),
         (301, "alpha beta gamma delta epsilon zeta eta theta kappa")],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in st.dedup_batch(
        batch, df, threshold=0.8, max_bucket="auto").collect()}
    unvalved = {r["doc_id"] for r in st.dedup_batch(
        batch, df, threshold=0.8, max_bucket=None).collect()}
    assert unvalved == set()
    assert kept == {300}


def test_dsir_weights_partition_invariant(spark):
    """The decimal fixed-point sum makes weights independent of
    partitioning/aggregation order — the determinism claim."""
    from hindex_spark.operators import importance as imp

    rows = [(i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(30))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = F.col("doc_id") % 5 == 0
    t = imp.bucket_counts(df.filter(target), "text")
    r = imp.bucket_counts(df, "text")
    ratios = imp.log_ratio_table(t, r)
    w1 = {
        x["doc_id"]: x["weight"]
        for x in imp.importance_weights(df.repartition(1), "doc_id", "text", ratios).collect()
    }
    w16 = {
        x["doc_id"]: x["weight"]
        for x in imp.importance_weights(df.repartition(16), "doc_id", "text", ratios).collect()
    }
    assert w1 == w16  # bit-identical, not approximately equal


def test_importance_model_fit_open_score_roundtrip(spark, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators import importance as imp

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{(i * 3 + j) % 9}" for j in range(12)),
          "en" if i % 2 == 0 else "xx") for i in range(20)],
        "doc_id long, text string, lang string",
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    m = imp.ImportanceModel.fit(
        cat, "docs_en", target=docs.filter(F.col("lang") == "en"),
        raw=docs, text_col="text",
    )
    # stored fit reproduces the unfitted path bit-for-bit
    live = imp.log_ratio_table(
        imp.bucket_counts(docs.filter(F.col("lang") == "en"), "text"),
        imp.bucket_counts(docs, "text"),
    )
    w_live = {r["doc_id"]: r["weight"]
              for r in imp.importance_weights(docs, "doc_id", "text", live).collect()}
    m2 = imp.ImportanceModel.open(cat, "docs_en")
    w_stored = {r["doc_id"]: r["weight"]
                for r in m2.weight(docs).select("doc_id", "weight").collect()}
    assert w_live == w_stored
    # cross-entropy from the stored target slice matches the live fit
    h_live = {r["doc_id"]: r["h"] for r in imp.lm_cross_entropy(
        docs, "doc_id", "text",
        imp.bucket_counts(docs.filter(F.col("lang") == "en"), "text")).collect()}
    h_stored = {r["doc_id"]: r["h"] for r in m2.cross_entropy(docs, "doc_id").collect()}
    assert h_live == h_stored


def test_importance_scoring_works_on_streams(spark, tmp_path):
    """The scan-shaped fold is a stateless projection, so the SAME
    scoring call works on a readStream frame — batch and stream outputs
    must agree exactly."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators import importance as imp

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{(i * 5 + j) % 11}" for j in range(10)),
          "en" if i % 3 == 0 else "xx") for i in range(15)],
        "doc_id long, text string, lang string",
    )
    src = str(tmp_path / "stream_src")
    docs.coalesce(1).write.parquet(src)
    cat = Catalog(spark, str(tmp_path / "wh"))
    m = imp.ImportanceModel.fit(
        cat, "s1", target=docs.filter(F.col("lang") == "en"),
        raw=docs, text_col="text",
    )
    batch = {r["doc_id"]: r["weight"]
             for r in m.weight(docs).select("doc_id", "weight").collect()}
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = m.weight(stream).select("doc_id", "weight")
    q = (out.writeStream.format("memory").queryName("imp_scores")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: r["weight"]
           for r in spark.sql("SELECT * FROM imp_scores").collect()}
    assert got == batch


# ---------------------------------------------------------------------------
# round 7: substring-span dedup, token-budget mixing, shuffle shards
# ---------------------------------------------------------------------------


def test_remove_duplicate_spans_cuts_later_occurrence(spark):
    # doc 1 and doc 2 share an 8-token run; k=5 must cut it from doc 2
    # only, leaving doc 2's unique prefix/suffix intact.
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "start alpha beta gamma delta epsilon zeta eta theta end"),
        (3, "totally unrelated words live in this third document here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dd.remove_duplicate_spans(docs, "doc_id", "text", k=5).collect()
    }
    assert out[1]["text"] == rows[0][1]  # first occurrence untouched
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text"] == "start end"
    assert out[2]["n_tokens_removed"] == 8
    assert out[3]["text"] == rows[2][1]
    assert len(out) == 3


def test_remove_duplicate_spans_unaligned_and_within_doc(spark):
    # the duplicated run inside ONE doc (offset, not window-aligned)
    # is still caught: second copy removed, first kept.
    run = "one two three four five"
    rows = [(1, f"x {run} y z {run} w")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dd.remove_duplicate_spans(docs, "doc_id", "text", k=5).collect()[0]
    assert out["text"] == f"x {run} y z w"
    assert out["n_tokens_removed"] == 5


def test_remove_duplicate_spans_fully_dup_doc_empties(spark):
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),
        (3, "tiny"),  # < k tokens: no grams, never touched
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dd.remove_duplicate_spans(docs, "doc_id", "text", k=5).collect()
    }
    assert out[1]["text"] == "a b c d e f g h"
    assert out[2]["text"] == "" and out[2]["n_tokens_kept"] == 0
    assert out[3]["text"] == "tiny"


def test_remove_duplicate_spans_xx_matches_raw(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = dd.remove_duplicate_spans(docs, "doc_id", "text", k=5)
    xx = dd.remove_duplicate_spans(docs, "doc_id", "text", k=5, hash_unit="xx")
    assert raw.exceptAll(xx).count() == 0 and xx.exceptAll(raw).count() == 0


def test_select_token_budget_exact_cap(spark):
    from hindex_spark.operators.sampling import select_token_budget

    rows = [
        # (id, domain, text): d1 docs are 4/3/2 tokens long
        (1, "d1", "a b c d"),
        (2, "d1", "a b c"),
        (3, "d1", "a b"),
        (4, "d2", "one two three four five six"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "dom", "text"])
    # budget 7: longest-first -> doc1 (4) + doc2 (3) = 7 fits; doc3 would
    # make 9 -> excluded. d2's single 6-token doc fits.
    out = {
        r["doc_id"]: r
        for r in select_token_budget(docs, "dom", budget_tokens=7).collect()
    }
    assert sorted(out) == [1, 2, 4]
    assert out[2]["cum_tokens"] == 7
    assert out[4]["cum_tokens"] == 6


def test_select_token_budget_never_overshoots(spark, sf_dir):
    from hindex_spark.operators.sampling import select_token_budget

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = select_token_budget(docs, "source", budget_tokens=600)
    mx = out.groupBy("source").agg(F.max("cum_tokens").alias("m")).collect()
    assert mx and all(r["m"] <= 600 for r in mx)


def test_shuffle_shards_is_permutation(spark, sf_dir):
    from hindex_spark.operators.packing import shuffle_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    out = shuffle_shards(docs, "doc_id", n_shards=8, seed=42)
    assert out.count() == n
    # every (shard, position) unique, positions contiguous from 1
    per = out.groupBy("shard").agg(
        F.count("*").alias("c"),
        F.countDistinct("position").alias("d"),
        F.max("position").alias("m"),
    ).collect()
    assert all(r["c"] == r["d"] == r["m"] for r in per)
    assert 1 < len(per) <= 8


def test_shuffle_shards_seed_changes_permutation(spark, sf_dir):
    from hindex_spark.operators.packing import shuffle_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = shuffle_shards(docs, "doc_id", n_shards=8, seed=1)
    b = shuffle_shards(docs, "doc_id", n_shards=8, seed=2)
    moved = a.alias("a").join(b.alias("b"), "doc_id").filter(
        (F.col("a.shard") != F.col("b.shard"))
        | (F.col("a.position") != F.col("b.position"))
    )
    assert moved.count() > 0
    # same seed: bit-identical
    c = shuffle_shards(docs, "doc_id", n_shards=8, seed=1)
    assert a.exceptAll(c).count() == 0


def test_shuffle_shards_xx_path_and_no_positions(spark, sf_dir):
    from hindex_spark.operators.packing import shuffle_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fast = shuffle_shards(
        docs, "doc_id", n_shards=8, seed=42, hash_fn="xx", with_positions=False
    )
    assert fast.columns == ["doc_id", "shard", "key"]
    assert fast.count() == docs.count()
    # no window in the plan: the fast path must stay shuffle-free
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan


# ---------------------------------------------------------------------------
# round 7: lexical search (BM25, TF-IDF keywords)
# ---------------------------------------------------------------------------


def test_bm25_ranks_term_density(spark):
    from hindex_spark.operators.search import bm25_topk

    rows = [
        (1, "spark spark spark row row"),          # 3 hits of 'spark'
        (2, "spark row row row row"),              # 1 hit
        (3, "row row row row row"),                # 0 hits -> excluded
        (4, "spark spark row row row"),            # 2 hits
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_topk(docs, "doc_id", "text", "spark", k=10).collect()
    assert [r["doc_id"] for r in got] == [1, 4, 2]
    assert all(r["score"] > 0 for r in got)


def test_bm25_multi_term_and_length_norm(spark):
    from hindex_spark.operators.search import bm25_topk

    rows = [
        (1, "alpha beta"),                          # both terms, short doc
        (2, "alpha " + "pad " * 50 + "beta"),       # both terms, long doc
        (3, "alpha alpha alpha"),                   # one term only
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["score"] for r in
           bm25_topk(docs, "doc_id", "text", "alpha beta", k=10).collect()}
    # length normalization: the short doc with both terms wins
    assert got[1] > got[2]
    assert set(got) == {1, 2, 3}


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    from hindex_spark.operators.search import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bm25_topk(docs, "doc_id", "text", "spark merge vector", k=25)
    assert out.count() == 25
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_tfidf_keywords_prefers_rare_terms(spark):
    from hindex_spark.operators.search import tfidf_keywords

    rows = [
        (1, "common zebra"),
        (2, "common common"),
        (3, "common aardvark"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = tfidf_keywords(docs, "doc_id", "text", top_n=1).collect()
    top = {r["doc_id"]: r["token"] for r in got}
    # at equal tf the doc-unique term's idf beats the corpus-wide one
    assert top[1] == "zebra" and top[3] == "aardvark" and top[2] == "common"


def test_tfidf_top_n_and_deterministic_ties(spark):
    from hindex_spark.operators.search import tfidf_keywords

    docs = spark.createDataFrame(
        [(1, "b a c d"), (2, "a b")], ["doc_id", "text"]
    )
    got = tfidf_keywords(docs, "doc_id", "text", top_n=2).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r["token"])
    # doc 1: c and d are unique (tie on score) -> token asc tie-break
    assert by_doc[1] == ["c", "d"]
    assert len(by_doc[2]) == 2


def test_search_index_matches_scan_bm25(spark, sf_dir, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.search import SearchIndex, bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "docs")
    got = ix.topk("spark merge vector", k=25).collect()
    want = bm25_topk(docs, "doc_id", "text", "spark merge vector", k=25).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_search_index_prunes_buckets(spark, sf_dir, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.search import SearchIndex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "docs", num_buckets=32)
    plan = ix.topk("spark", k=5)._jdf.queryExecution().executedPlan().toString()
    # a 1-term query must read 1 of the 32 postings buckets, not 32
    assert "SelectedBucketsCount: 1 out of 32" in plan, plan[:2000]


def test_search_index_update_equals_rebuild(spark, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.search import SearchIndex

    all_rows = [
        (1, "spark makes joins fast"),
        (2, "merge joins beat loops"),
        (3, "vector scans stay cheap"),
        (4, "spark spark everywhere spark"),
        (5, "totally unrelated content here"),
    ]
    docs = spark.createDataFrame(all_rows, ["doc_id", "text"])
    old = docs.filter(F.col("doc_id") <= 3)
    new = docs.filter(F.col("doc_id") > 3)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, old, "doc_id", "text", "inc")
    ix.update(new)
    full = SearchIndex.build(
        Catalog(spark, str(tmp_path / "wh2")), docs, "doc_id", "text", "full"
    )
    q = "spark merge vector"
    got = [(r["doc_id"], r["score"]) for r in ix.topk(q, k=10).collect()]
    want = [(r["doc_id"], r["score"]) for r in full.topk(q, k=10).collect()]
    assert got == want
    # reopen from disk: stats persisted
    again = SearchIndex.open(cat, "inc")
    assert again.n_docs == 5
    got2 = [(r["doc_id"], r["score"]) for r in again.topk(q, k=10).collect()]
    assert got2 == want


def test_phrase_search_adjacency_and_overlap(spark, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.search import SearchIndex

    rows = [
        (1, "big data rocks"),                 # no 'fast data'
        (2, "fast data fast data pipelines"),  # 2 occurrences
        (3, "data fast"),                      # reversed -> no match
        (4, "a a a"),                          # overlapping self-phrase
        (5, "fast and data"),                  # not adjacent
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "ph")
    got = {r["doc_id"]: r["n_occurrences"]
           for r in ix.phrase_search("fast data").collect()}
    assert got == {2: 2}
    # overlapping occurrences of a repeated-token phrase
    got2 = {r["doc_id"]: r["n_occurrences"]
            for r in ix.phrase_search("a a").collect()}
    assert got2 == {4: 2}
    # single-term phrase = tf
    got3 = {r["doc_id"]: r["n_occurrences"]
            for r in ix.phrase_search("data").collect()}
    assert got3 == {1: 1, 2: 2, 3: 1, 5: 1}


def test_phrase_search_matches_text_model(spark, sf_dir, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.search import SearchIndex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "ph")
    got = {r["doc_id"]: r["n_occurrences"]
           for r in ix.phrase_search("fast data row").collect()}
    rows = docs.select("doc_id", "text").collect()
    want = {}
    for r in rows:
        toks = r["text"].strip().split()
        c = sum(1 for i in range(len(toks) - 2)
                if toks[i:i + 3] == ["fast", "data", "row"])
        if c:
            want[r["doc_id"]] = c
    assert got == want


def test_boolean_search_semantics(spark, tmp_path):
    import pytest

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.search import SearchIndex

    rows = [
        (1, "spark merge"),          # must + should
        (2, "spark vector slow"),    # killed by must_not
        (3, "spark alone here"),     # must but no should
        (4, "merge vector"),         # should but no must
        (5, "spark merge vector"),   # all positives
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "bl")
    got = [r["doc_id"] for r in ix.boolean_search(
        must=["spark"], should=["merge", "vector"], must_not=["slow"]
    ).collect()]
    assert got == [1, 5]
    # must-only and should-only forms
    assert [r["doc_id"] for r in ix.boolean_search(must=["spark"]).collect()] == [1, 2, 3, 5]
    assert [r["doc_id"] for r in ix.boolean_search(should=["merge"]).collect()] == [1, 4, 5]
    # pure negation refuses loudly (needs the corpus, not an index)
    with pytest.raises(ValueError):
        ix.boolean_search(must_not=["slow"])


def test_search_index_repair_stats_closes_crash_window(spark, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.search import SearchIndex

    docs = spark.createDataFrame(
        [(1, "spark makes joins fast"), (2, "merge joins beat loops")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(3, "vector scans stay cheap and fast")], ["doc_id", "text"]
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "cr")
    # simulate the crash: postings appended, meta bump never happened
    rows = SearchIndex._posting_rows(batch, "doc_id", "text")
    rows.createOrReplaceTempView("__crash_append")
    spark.sql(f"INSERT INTO {ix.sql_name} SELECT * FROM __crash_append")
    spark.catalog.dropTempView("__crash_append")
    stale = SearchIndex.open(cat, "cr")
    assert stale.n_docs == 2  # stale meta
    stale.repair_stats()
    assert stale.n_docs == 3 and stale.sum_dl == 4 + 4 + 6
    # repaired index now scores identically to a fresh full build
    full = SearchIndex.build(
        Catalog(spark, str(tmp_path / "wh2")),
        docs.union(batch), "doc_id", "text", "full",
    )
    q = "fast joins vector"
    got = [(r["doc_id"], r["score"]) for r in stale.topk(q, k=10).collect()]
    want = [(r["doc_id"], r["score"]) for r in full.topk(q, k=10).collect()]
    assert got == want


def test_search_index_maintained_from_stream(spark, sf_dir, tmp_path):
    """The streaming-ingest shape: a readStream drains micro-batches
    through foreachBatch -> SearchIndex.update; after the stream, the
    index equals a batch build over everything it saw."""
    import shutil

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.search import SearchIndex

    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    seed = docs.filter(F.col("doc_id") < 20)
    rest = docs.filter(F.col("doc_id") >= 20)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, seed, "doc_id", "text", "stream")
    rest.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema).parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _epoch: ix.update(batch) if batch.count() else None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    full = SearchIndex.build(
        Catalog(spark, str(tmp_path / "wh2")), docs, "doc_id", "text", "full"
    )
    query = "spark merge vector"
    got = [(r["doc_id"], r["score"]) for r in ix.topk(query, k=15).collect()]
    want = [(r["doc_id"], r["score"]) for r in full.topk(query, k=15).collect()]
    assert got == want
    shutil.rmtree(src, ignore_errors=True)


def test_artifact_compaction_restores_single_file_buckets(spark, tmp_path):
    import glob

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.search import SearchIndex

    docs = spark.createDataFrame(
        [(i, f"word{i} common shared tokens") for i in range(8)],
        ["doc_id", "text"],
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs.filter(F.col("doc_id") < 4),
                           "doc_id", "text", "cp", num_buckets=4)
    before_hits = [(r["doc_id"], r["score"]) for r in
                   ix.topk("common shared", k=10).collect()]
    # several appends -> multi-file buckets
    for lo in (4, 6):
        ix.update(docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 2)))
    path = str(tmp_path / "wh" / "cp_postings_bucketed" / "data")
    n_before = len(glob.glob(f"{path}/*.parquet"))
    assert n_before > 4  # appends piled files beyond one per bucket
    hits_full = [(r["doc_id"], r["score"]) for r in
                 ix.topk("common shared", k=10).collect()]
    ix.compact(num_buckets=4)
    n_after = len(glob.glob(f"{path}/*.parquet"))
    assert n_after == 4  # one file per bucket again
    hits_compacted = [(r["doc_id"], r["score"]) for r in
                      ix.topk("common shared", k=10).collect()]
    assert hits_compacted == hits_full
    assert len(before_hits) < len(hits_full)  # updates really landed


def test_index_tfidf_matches_scan_tfidf(spark, sf_dir, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.search import SearchIndex, tfidf_keywords

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "tk")
    a = ix.tfidf_keywords(top_n=3)
    b = tfidf_keywords(docs, "doc_id", "text", top_n=3)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# ---------------------------------------------------------------------------
# round 7: incremental time-bucket rollup
# ---------------------------------------------------------------------------


def test_rollup_incremental_equals_oneshot(spark, sf_dir, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    inc = RollupStore.build(
        cat, events.filter(F.col("event_id") % 3 == 0),
        "ts", ["event_type"], "value", HOUR_US, "inc",
    )
    inc.update(events.filter(F.col("event_id") % 3 == 1))
    inc.update(events.filter(F.col("event_id") % 3 == 2))
    one = RollupStore.build(
        Catalog(spark, str(tmp_path / "wh2")), events,
        "ts", ["event_type"], "value", HOUR_US, "one",
    )
    a, b = inc.read(), one.read()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # compaction folds partials without changing the answer
    inc.compact()
    c = RollupStore.open(cat, "inc").read()
    assert c.exceptAll(b).count() == 0 and b.exceptAll(c).count() == 0


def test_rollup_late_events_and_range_read(spark, tmp_path):
    from datetime import datetime

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    rows = [
        (1, datetime(2024, 1, 1, 10, 15), "click", 1.0),
        (2, datetime(2024, 1, 1, 10, 45), "click", 3.0),
        (3, datetime(2024, 1, 1, 11, 5), "view", 2.0),
    ]
    late = [(4, datetime(2024, 1, 1, 10, 59), "click", 5.0)]  # old bucket
    cols = ["event_id", "ts", "event_type", "value"]
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(
        cat, spark.createDataFrame(rows, cols),
        "ts", ["event_type"], "value", HOUR_US, "late",
    )
    r.update(spark.createDataFrame(late, cols))
    got = {(x["bucket_us"], x["event_type"]): (x["cnt"], float(x["vsum"]))
           for x in r.read().collect()}
    h10 = int(datetime(2024, 1, 1, 10).timestamp() * 1_000_000)
    # NTZ/naive handling: derive the bucket key actually produced
    clicks = [k for k in got if k[1] == "click"]
    assert len(clicks) == 1
    assert got[clicks[0]] == (3, 9.0)  # late event merged into the bucket
    # range read excludes the other bucket
    lo = clicks[0][0]
    only = r.read(start_us=lo, end_us=lo + HOUR_US).collect()
    assert {x["event_type"] for x in only} == {"click"}


def test_rollup_merged_read_is_store_side_exchange_free(spark, sf_dir, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, events, "ts", ["event_type"], "value",
                          HOUR_US, "plan")
    plan = r.read()._jdf.queryExecution().executedPlan().toString()
    # hash-bucketed on bucket_us clusters every (bucket_us, key) group:
    # the merge aggregation needs NO exchange
    assert "Exchange" not in plan, plan[:1500]


def test_rollup_spread_keys_identical_result_with_exchange(
    spark, sf_dir, tmp_path
):
    """The hot-bucket escape (spread_keys=True) repartitions on the
    full group key — one deliberate Exchange that fans a mega-bucket's
    keys across tasks — and must be result-identical to the
    exchange-free default."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import DAY_US, HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, events, "ts", ["event_type"], "value",
                          HOUR_US, "spread")
    plan = r.read(spread_keys=True)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" in plan, plan[:1500]

    def _rows(df):
        return sorted(tuple(x) for x in df.collect())

    assert _rows(r.read(spread_keys=True)) == _rows(r.read())
    assert _rows(r.read_at(DAY_US, spread_keys=True)) == _rows(
        r.read_at(DAY_US)
    )


def test_rollup_read_at_coarser_grain_and_guard(spark, sf_dir, tmp_path):
    import pytest

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import DAY_US, HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    hourly = RollupStore.build(cat, events, "ts", ["event_type"], "value",
                               HOUR_US, "h")
    daily_direct = RollupStore.build(
        Catalog(spark, str(tmp_path / "wh2")), events,
        "ts", ["event_type"], "value", DAY_US, "d",
    ).read()
    via_lattice = hourly.read_at(DAY_US)
    assert via_lattice.exceptAll(daily_direct).count() == 0
    assert daily_direct.exceptAll(via_lattice).count() == 0
    with pytest.raises(ValueError):
        hourly.read_at(HOUR_US + 1)  # not a multiple


def test_rollup_maintained_from_stream(spark, sf_dir, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    seed = events.filter(F.col("event_id") % 2 == 0)
    rest = events.filter(F.col("event_id") % 2 == 1)
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, seed, "ts", ["event_type"], "value",
                          HOUR_US, "st")
    src = str(tmp_path / "src")
    rest.write.mode("overwrite").parquet(src)
    q = (
        spark.readStream.schema(events.schema).parquet(src)
        .writeStream.foreachBatch(
            lambda batch, _e: r.update(batch) if batch.count() else None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    full = RollupStore.build(
        Catalog(spark, str(tmp_path / "wh2")), events,
        "ts", ["event_type"], "value", HOUR_US, "full",
    ).read()
    got = r.read()
    assert got.exceptAll(full).count() == 0 and full.exceptAll(got).count() == 0


def test_artifact_update_serialized_by_catalog_lease(spark, tmp_path):
    import json as _json
    import time

    import pytest

    from hindex_spark.catalog import Catalog, SaveContentionError
    from hindex_spark.operators.search import SearchIndex

    docs = spark.createDataFrame(
        [(1, "spark rows"), (2, "merge rows")], ["doc_id", "text"]
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "lk")
    # simulate a LIVE writer on another host holding the artifact lease
    lease = str(tmp_path / "wh" / "lk_postings_bucketed" / "_lease.json")
    with open(lease, "w") as f:
        _json.dump({"token": "t-other", "pid": 1, "host": "other-host",
                    "acquired_at": time.time()}, f)
    batch = spark.createDataFrame([(3, "vector rows")], ["doc_id", "text"])
    with pytest.raises(SaveContentionError):
        ix.update(batch)
    # stale foreign lease (past TTL) is taken over and the update lands
    with open(lease, "w") as f:
        _json.dump({"token": "t-other", "pid": 1, "host": "other-host",
                    "acquired_at": time.time() - 10_000}, f)
    ix.update(batch)
    assert ix.n_docs == 3


def test_artifacts_reattach_after_session_restart(spark, tmp_path):
    """Bucketed-table registrations are session-scoped; the artifact
    files + meta are not. Dropping the registration simulates a fresh
    SparkSession — open() must re-attach from disk (with the persisted
    bucket count, so pruning/exchange-free properties survive too)."""
    from datetime import datetime

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.dedup_state import DedupState
    from hindex_spark.operators.rollup import HOUR_US, RollupStore
    from hindex_spark.operators.search import SearchIndex

    docs = spark.createDataFrame(
        [(1, "spark makes joins fast"), (2, "merge joins beat loops")],
        ["doc_id", "text"],
    )
    events = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 15), "click", 1.5)],
        ["event_id", "ts", "event_type", "value"],
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "ra", num_buckets=8)
    st = DedupState.build(cat, docs, "doc_id", "text", "ra", num_buckets=8)
    ru = RollupStore.build(cat, events, "ts", ["event_type"], "value",
                           HOUR_US, "ra", num_buckets=8)
    want_hits = [r["doc_id"] for r in ix.topk("spark", k=5).collect()]
    for t in ("ra_postings_bucketed", "ra_dedupstate_bucketed",
              "ra_rollup_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    cat2 = Catalog(spark, str(tmp_path / "wh"))
    ix2 = SearchIndex.open(cat2, "ra")
    assert ix2.num_buckets == 8
    assert [r["doc_id"] for r in ix2.topk("spark", k=5).collect()] == want_hits
    st2 = DedupState.open(cat2, "ra")
    assert st2.df.count() == 2
    ru2 = RollupStore.open(cat2, "ra")
    got = ru2.read().collect()
    assert len(got) == 1 and got[0]["cnt"] == 1
    # updates work against the re-attached registration too
    ix2.update(spark.createDataFrame([(3, "vector scans")], ["doc_id", "text"]))
    assert ix2.n_docs == 3


def test_rrf_fuse_semantics(spark):
    """RRF basics: overlap beats single-system presence at equal rank,
    absent systems contribute nothing, ties break on id."""
    from hindex_spark.operators.hybrid import add_rank, rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["id", "rank"])
    b = spark.createDataFrame([(2, 1), (4, 2)], ["id", "rank"])
    out = {r["id"]: r["rrf_score"] for r in rrf_fuse([a, b], "id", 60, 10).collect()}
    # doc 2 appears in both (ranks 2 and 1) -> highest fused score
    assert max(out, key=out.get) == 2
    assert abs(out[2] - (round(1 / 62, 6) + round(1 / 61, 6))) < 1e-12
    assert abs(out[1] - round(1 / 61, 6)) < 1e-12
    assert set(out) == {1, 2, 3, 4}

    scored = spark.createDataFrame(
        [(5, 0.9), (6, 0.9), (7, 0.5)], ["id", "score"]
    )
    ranks = {r["id"]: r["rank"] for r in add_rank(scored, "id").collect()}
    assert ranks == {5: 1, 6: 2, 7: 3}  # tie at 0.9 breaks on id


def test_rollup_expire_drops_old_buckets_only(spark, sf_dir, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, events, "ts", ["event_type"], "value",
                          HOUR_US, "ret")
    mm = r.partials.agg(
        F.min("bucket_us").alias("mn"), F.max("bucket_us").alias("mx")
    ).collect()[0]
    half = (int(mm["mx"]) - int(mm["mn"])) // 2
    cutoff = int(mm["mn"]) + half - (half % HOUR_US)
    before = {
        (x["bucket_us"], x["event_type"]): tuple(x)
        for x in r.read().collect()
    }
    r.expire(cutoff)
    after = {
        (x["bucket_us"], x["event_type"]): tuple(x)
        for x in r.read().collect()
    }
    assert after == {k: v for k, v in before.items() if k[0] >= cutoff}
    assert r.partials.filter(F.col("bucket_us") < cutoff).count() == 0
    # survivors still merge exchange-free
    plan = r.read()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_rollup_replace_batch_corrects_history(spark, sf_dir, tmp_path):
    """Backfill/correction parity (the cell layer's Delete+Put shape):
    a misreported batch is superseded by generation tombstone, the
    merged read equals a store built from the true events, and the
    read plan still has NO shuffle exchange (the tombstone cut is a
    broadcast join that preserves the scan's bucket partitioning)."""
    import re

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, even, "ts", ["event_type"], "value",
                          HOUR_US, "corr")
    bad = r.update(odd.withColumn("value", F.col("value") * 7))
    new_gen = r.replace_batch(bad, odd)
    assert new_gen > bad
    truth = RollupStore.build(cat, events, "ts", ["event_type"], "value",
                              HOUR_US, "truth")
    got = sorted(map(tuple, r.read().collect()))
    want = sorted(map(tuple, truth.read().collect()))
    assert got == want
    plan = r.read()._jdf.queryExecution().executedPlan().toString()
    # the STORE side (probe, printed before the broadcast build side)
    # must see no shuffle: any hash exchange belongs to the bounded
    # tombstone-cut aggregate under the BroadcastExchange
    probe_side = plan[: plan.index("BroadcastExchange")]
    assert not re.search(r"Exchange hashpartitioning", probe_side), plan[:1500]

    # retraction: delete the corrected batch too -> back to even-only
    r.delete_batch(new_gen)
    even_only = RollupStore.build(cat, even, "ts", ["event_type"], "value",
                                  HOUR_US, "evenonly")
    assert sorted(map(tuple, r.read().collect())) == sorted(
        map(tuple, even_only.read().collect())
    )


def test_rollup_recorrection_refused(spark, sf_dir, tmp_path):
    """A generation already superseded by ``replace_batch`` (or
    retracted by ``delete_batch``) REFUSES further corrections:
    re-tombstoning the already-dead original would leave BOTH
    correction generations live and silently double-count (two
    replace_batch(g1, batch) calls used to yield 2x the batch). The
    refusal names the superseding generation; correcting THAT
    generation works, and the chain survives a handle reopen (the map
    is meta-persisted, so it also survives expire())."""
    import pytest as _pytest

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(4000)
    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, even, "ts", ["event_type"], "value",
                          HOUR_US, "rechain")
    g1 = r.update(odd.withColumn("value", F.col("value") * 3))
    g2 = r.replace_batch(g1, odd)
    total = int(r.read().agg(F.sum("cnt")).collect()[0][0])

    # the natural re-correction mistake: target the original gen again
    with _pytest.raises(ValueError, match=f"superseded by generation {g2}"):
        r.replace_batch(g1, odd)
    with _pytest.raises(ValueError, match=f"superseded by generation {g2}"):
        r.delete_batch(g1)
    # nothing double-counted by the refused calls
    assert int(r.read().agg(F.sum("cnt")).collect()[0][0]) == total

    # the refusal is persisted: a fresh handle refuses too
    r2 = RollupStore.open(cat, "rechain")
    with _pytest.raises(ValueError, match="already superseded"):
        r2.replace_batch(g1, odd)

    # correcting the SUPERSEDING generation is the supported path
    g3 = r2.replace_batch(g2, odd.withColumn("value", F.col("value") * 2))
    truth = RollupStore.build(
        cat,
        even.union(odd.withColumn("value", F.col("value") * 2)),
        "ts", ["event_type"], "value", HOUR_US, "rechain_truth",
    )
    assert sorted(map(tuple, r2.read().collect())) == sorted(
        map(tuple, truth.read().collect())
    )

    # a retracted generation refuses corrections with its own message
    r2.delete_batch(g3)
    with _pytest.raises(ValueError, match="retracted"):
        r2.replace_batch(g3, odd)


def test_rollup_compact_seals_folded_generations(spark, sf_dir, tmp_path):
    """compact() folds batches into one fresh generation: reads are
    unchanged, earlier generations refuse replace_batch (their batch
    identity is gone — Lucene segment-merge semantics), and the store
    remains correctable for post-compact batches."""
    import pytest as _pytest

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(4000)
    half = events.filter(F.col("event_id") % 2 == 0)
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, half, "ts", ["event_type"], "value",
                          HOUR_US, "seal")
    g1 = r.update(events.filter(F.col("event_id") % 2 == 1))
    before = sorted(map(tuple, r.read().collect()))
    r.compact()
    assert sorted(map(tuple, r.read().collect())) == before
    with _pytest.raises(ValueError, match="folded"):
        r.replace_batch(g1, half)
    # post-compact batches stay correctable; handle reopened mid-way
    # (cross-process shape: generation state must come from the meta)
    r2 = RollupStore.open(cat, "seal")
    g2 = r2.update(half.withColumn("value", F.col("value") * 2))
    r2.replace_batch(g2, half)
    direct = RollupStore.build(
        cat, events.union(half), "ts", ["event_type"], "value",
        HOUR_US, "sealdirect",
    )
    assert sorted(map(tuple, r2.read().collect())) == sorted(
        map(tuple, direct.read().collect())
    )


def test_rollup_auto_spread_keys_from_bucket_distribution(
    spark, sf_dir, tmp_path
):
    """spread_keys=\"auto\" (the LSH auto-valve pattern applied to the
    hot-bucket escape): a hot-hour store — every event in ONE time
    bucket — triggers the spreading exchange; a uniform store keeps the
    exchange-free merge. Results identical to both explicit settings
    either way."""
    import re

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(4000)
    cat = Catalog(spark, str(tmp_path / "wh"))

    uniform = RollupStore.build(cat, events, "ts", ["event_type"],
                                "value", HOUR_US, "uni")
    one_ts = events.select("ts").first()[0]  # every event in ONE hour
    hot_events = events.withColumn("ts", F.lit(one_ts)).withColumn(
        "event_type", F.concat(F.lit("k"), F.col("event_id") % 500)
    )
    hot = RollupStore.build(cat, hot_events, "ts", ["event_type"],
                            "value", HOUR_US, "hot")

    def n_exchanges(df):
        p = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"Exchange hashpartitioning", p))

    assert n_exchanges(uniform.read(spread_keys="auto")) == 0
    assert n_exchanges(hot.read(spread_keys="auto")) >= 1
    for store in (uniform, hot):
        want = sorted(map(tuple, store.read(spread_keys=False).collect()))
        assert sorted(map(tuple, store.read(spread_keys="auto").collect())) == want
        assert sorted(map(tuple, store.read(spread_keys=True).collect())) == want


def test_profile_one_pass_all_types(spark, sf_dir):
    """profile() on the events table (longs, strings, doubles,
    timestamps): exact-ndv values match direct computations, the
    canonical reprs are deterministic (ints as digits, doubles at
    fixed 6dp, timestamps as epoch micros), nulls are counted, the
    sketch default tracks exact ndv within its documented bound, and
    the WHOLE profile is one scan of the table."""
    from hindex_spark.operators.profile import profile
    from hindex_spark.timeutil import ts_micros

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(5000)
    # inject nulls so n_null is exercised
    ev = ev.withColumn(
        "value", F.when(F.col("event_id") % 10 == 0, None)
        .otherwise(F.col("value"))
    )
    out = {r["col_name"]: r for r in
           profile(ev, ["event_id", "event_type", "value", "ts"],
                   exact_ndv=True).collect()}
    total = ev.count()
    direct = ev.agg(
        F.count("value").alias("nv"),
        F.count_distinct("event_type").alias("det"),
        F.min("event_id").alias("mnid"), F.max("event_id").alias("mxid"),
        F.format_string("%.6f", F.round(F.min("value"), 6)).alias("mnv"),
        F.min(ts_micros(ev, "ts")).alias("mnts"),
    ).first()
    assert out["event_id"]["n_rows"] == total
    assert out["event_id"]["n_null"] == 0
    assert out["event_id"]["min_repr"] == str(direct["mnid"])
    assert out["event_id"]["max_repr"] == str(direct["mxid"])
    assert out["value"]["n_null"] == total - direct["nv"]
    assert out["value"]["min_repr"] == direct["mnv"]
    assert out["event_type"]["ndv"] == direct["det"]
    assert out["ts"]["min_repr"] == str(direct["mnts"])

    # one-pass claim: exactly ONE scan in the physical plan
    plan = (
        profile(ev, exact_ndv=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan ") == 1, plan[:1500]

    # sketch default: within 1% of exact at these cardinalities, and
    # exact for the low-cardinality string column
    sk = {r["col_name"]: r for r in
          profile(ev, ["event_id", "event_type"]).collect()}
    n_ids = ev.select("event_id").distinct().count()
    assert abs(sk["event_id"]["ndv"] - n_ids) <= 0.01 * n_ids
    assert sk["event_type"]["ndv"] == direct["det"]

    # quantile columns: exact (element at rank ceil(p*n)) while the
    # column's row count stays under pctl_k; NULL for strings; still
    # one scan
    import math
    qp = profile(ev, ["value", "event_type"], exact_ndv=True,
                 pctls=[0.5, 0.95], pctl_k=8192)
    assert qp._jdf.queryExecution().executedPlan().toString() \
        .count("Scan ") == 1
    qrows = {r["col_name"]: r for r in qp.collect()}
    vals = sorted(x[0] for x in ev.select("value").collect()
                  if x[0] is not None)
    for p in (0.5, 0.95):
        want = vals[max(1, math.ceil(p * len(vals))) - 1]
        assert qp is not None and abs(
            qrows["value"][f"p{int(p*100)}"] - want) < 1e-9
    assert qrows["event_type"]["p50"] is None


def test_rollup_sketch_exactness_boundaries(spark):
    """Pin the sketch contracts the rollup's ndv/pctl columns rely on,
    on DETERMINISTIC inputs, so a Spark/datasketches upgrade that
    shifts either regime fails loudly instead of silently skewing
    stored rollups:

    - HLL lgk=12 (the ndv default) is EXACT through the gate-scale
      cardinalities (10/100/400 distinct here — sparse mode), and
      within 1% once coupon collisions start (first observed deviation
      on these inputs: 1000 -> 996, the boundary COVERAGE records);
    - KLL with k >= n is EXACT: the discrete quantile is the element
      at rank ceil(p*n) (the arithmetic the oracle mirrors);
    - KLL beyond capacity (k=200, n=20k) answers within its rank-error
      bound (<=2%; measured 0.15% here), not exactly."""
    import math

    # HLL: exact in sparse mode, ~1% beyond
    for n in (10, 100, 400):
        df = spark.range(n).select((F.col("id") % 1000000007).alias("v"))
        est = df.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("v", F.lit(12)))
        ).first()[0]
        assert est == n, f"HLL lgk=12 no longer exact at {n} distinct"
    for n in (1000, 4000):
        df = spark.range(n).select((F.col("id") % 1000000007).alias("v"))
        est = df.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("v", F.lit(12)))
        ).first()[0]
        assert abs(est - n) <= 0.01 * n, f"HLL error at {n}: {est}"

    # KLL: exact under capacity — element at rank ceil(p*n)
    n = 500
    vals = spark.range(1, n + 1).select(F.col("id").cast("double").alias("v"))
    for p in (0.01, 0.5, 0.95):
        q = vals.agg(
            F.kll_sketch_get_quantile_double(
                F.kll_sketch_agg_double("v", F.lit(600)), F.lit(p)
            )
        ).first()[0]
        assert q == float(max(1, math.ceil(p * n))), (p, q)

    # KLL: bounded rank error beyond capacity
    n = 20000
    vals = spark.range(1, n + 1).select(F.col("id").cast("double").alias("v"))
    for p in (0.5, 0.95):
        q = vals.agg(
            F.kll_sketch_get_quantile_double(
                F.kll_sketch_agg_double("v", F.lit(200)), F.lit(p)
            )
        ).first()[0]
        assert abs(q - p * n) <= 0.02 * n, (p, q)


def test_rollup_auto_spread_decides_from_meta_histogram(
    spark, sf_dir, tmp_path
):
    """The auto-spread decision comes from the WRITE-maintained bucket
    histogram in meta — auto-reads run ZERO gauge jobs (asserted by
    making the gauge raise), across the whole verb lifecycle the
    histogram tracks the live per-bucket counts exactly, and a
    pre-histogram store (meta stripped) falls back to the gauge, then
    upgrades itself on its next write."""
    import json as _json
    import re

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(4000)
    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    cat = Catalog(spark, str(tmp_path / "wh"))
    one_ts = events.select("ts").first()[0]
    hot_events = events.withColumn("ts", F.lit(one_ts)).withColumn(
        "event_type", F.concat(F.lit("k"), F.col("event_id") % 500)
    )
    uniform = RollupStore.build(cat, even, "ts", ["event_type"],
                                "value", HOUR_US, "histuni")
    hot = RollupStore.build(cat, hot_events, "ts", ["event_type"],
                            "value", HOUR_US, "histhot")

    def live_hist(r):
        rows = r.live_partials.groupBy("bucket_us").count().collect()
        return {str(x["bucket_us"]): x["count"] for x in rows}

    def combined(r):
        acc = {}
        for h in r.gen_hist.values():
            for b, n in h.items():
                acc[b] = acc.get(b, 0) + n
        return acc

    # histogram == live per-bucket counts through the verb lifecycle
    assert combined(uniform) == live_hist(uniform)
    g1 = uniform.update(odd)
    assert combined(uniform) == live_hist(uniform)
    g2 = uniform.replace_batch(
        g1, odd.withColumn("value", F.col("value") * 2)
    )
    assert combined(uniform) == live_hist(uniform)
    uniform.delete_batch(g2)
    assert combined(uniform) == live_hist(uniform)
    uniform.compact()
    assert list(uniform.gen_hist) == [str(uniform.cur_gen)]
    assert combined(uniform) == live_hist(uniform)

    # auto-reads never run the gauge when the histogram exists
    n_exchanges = lambda df: len(re.findall(  # noqa: E731
        r"Exchange hashpartitioning",
        df._jdf.queryExecution().executedPlan().toString(),
    ))
    orig = RollupStore._hot_bucket
    def _boom(self, p):
        raise AssertionError("gauge aggregation ran on a histogram store")
    RollupStore._hot_bucket = _boom
    try:
        assert n_exchanges(uniform.read(spread_keys="auto")) == 0
        assert n_exchanges(hot.read(spread_keys="auto")) >= 1
        # the lattice path coarsens the histogram DRIVER-SIDE (grain_us
        # regroups keys by summing finer-bucket counts) — still no
        # gauge job, and the hot store still spreads at the day grain
        from hindex_spark.operators.rollup import DAY_US
        assert n_exchanges(hot.read_at(DAY_US, spread_keys="auto")) >= 1
        assert n_exchanges(uniform.read_at(DAY_US, spread_keys="auto")) \
            in (0, 1)  # coarsening MAY concentrate a uniform store too
        want = sorted(map(tuple, hot.read(spread_keys=False).collect()))
        got = sorted(map(tuple, hot.read(spread_keys="auto").collect()))
        assert got == want
        # pre-histogram store (old meta): gauge fallback kicks in
        meta_path = hot._meta_path()
        m = _json.load(open(meta_path))
        m.pop("gen_hist")
        with open(meta_path, "w") as f:
            _json.dump(m, f)
        with pytest.raises(AssertionError, match="gauge"):
            hot.read(spread_keys="auto")._jdf.queryExecution()
    finally:
        RollupStore._hot_bucket = orig
    # the stripped store still answers via the gauge...
    assert n_exchanges(hot.read(spread_keys="auto")) >= 1
    # ...and the next write upgrades it back to a maintained histogram
    hot.update(hot_events.limit(50))
    assert hot.gen_hist is not None
    assert combined(hot) == live_hist(hot)
    RollupStore._hot_bucket = _boom
    try:
        assert n_exchanges(hot.read(spread_keys="auto")) >= 1
    finally:
        RollupStore._hot_bucket = orig


def test_rollup_sketches_survive_corrections_and_lattice(
    spark, sf_dir, tmp_path
):
    """Sketch columns (HLL ndv + KLL quantiles) through the CORRECTION
    path: a misreported batch replaced via generation tombstones must
    leave ndv/p50/p95 exactly equal to a store built from the true
    events (exact at these cardinalities/k), at the store grain AND
    through the read_at lattice step — the tombstone cut must drop the
    bad generation's sketch partials, not just its plain partials."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import DAY_US, HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(4000)
    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    cat = Catalog(spark, str(tmp_path / "wh"))
    kw = dict(ndv_col="user_id", pctl_col="value", pctl_k=4096)
    r = RollupStore.build(cat, even, "ts", ["event_type"], "value",
                          HOUR_US, "skcorr", **kw)
    # bad batch skews BOTH sketch inputs: values tripled, users shifted
    bad = r.update(
        odd.withColumn("value", F.col("value") * 3)
        .withColumn("user_id", F.col("user_id") + 1000000)
    )
    r.replace_batch(bad, odd)
    truth = RollupStore.build(cat, even.unionByName(odd), "ts",
                              ["event_type"], "value", HOUR_US,
                              "sktruth", **kw)
    for grain in (None, DAY_US):
        read = (lambda s: s.read(pctls=(0.5, 0.95)) if grain is None
                else s.read_at(grain, pctls=(0.5, 0.95)))
        got = sorted(map(tuple, read(r).collect()))
        want = sorted(map(tuple, read(truth).collect()))
        assert got == want, f"grain={grain}"


def test_rollup_topk_sketch_corrections_and_lattice(spark, sf_dir, tmp_path):
    """Heavy-hitters sketch column through CORRECTIONS and the grain
    LATTICE: replacing a batch that skewed the item stream must leave
    the exploded (item, count) set exactly equal to a truth store —
    exact at these cardinalities — at the store grain and at read_at;
    compared as exploded ROW SETS because tie order inside the
    estimate array is not defined."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import DAY_US, HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(4000)
    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, even, "ts", ["event_type"], "value",
                          HOUR_US, "tkcorr", topk_col="user_id")
    bad = r.update(odd.withColumn("user_id", F.col("user_id") + 1000000))
    r.replace_batch(bad, odd)
    truth = RollupStore.build(cat, even.unionByName(odd), "ts",
                              ["event_type"], "value", HOUR_US,
                              "tktruth", topk_col="user_id")

    def items(store, grain=None):
        df = (store.read(topk=10000) if grain is None
              else store.read_at(grain, topk=10000))
        return sorted(map(tuple, df.select(
            "bucket_us", "event_type", F.explode("top_items").alias("t")
        ).select("bucket_us", "event_type", "t.item", "t.count")
            .collect()))

    for grain in (None, DAY_US):
        assert items(r, grain) == items(truth, grain), f"grain={grain}"
    # no stale heavy hitter from the bad batch survives the cut
    assert not any("1000000" in str(t[2]) and int(t[2]) >= 1000000
                   for t in items(r))


def test_rollup_read_with_tail_equals_post_update_read(
    spark, sf_dir, tmp_path
):
    """read_with(tail) — the real-time lambda read — must equal what
    read() returns AFTER update(tail), including sketch columns and
    through corrections: serving never waits for the batch append and
    never diverges from it."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(4000)
    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    tail = odd.filter(F.col("event_id") % 3 == 0)
    seen = odd.filter(F.col("event_id") % 3 != 0)
    cat = Catalog(spark, str(tmp_path / "wh"))
    kw = dict(ndv_col="user_id", pctl_col="value", pctl_k=4096)
    r = RollupStore.build(cat, even, "ts", ["event_type"], "value",
                          HOUR_US, "rt", **kw)
    # a correction in history must not disturb the real-time union
    bad = r.update(seen.withColumn("value", F.col("value") * 9))
    r.replace_batch(bad, seen)
    rt = sorted(map(tuple, r.read_with(tail, pctls=(0.5,)).collect()))
    r.update(tail)
    post = sorted(map(tuple, r.read(pctls=(0.5,)).collect()))
    assert rt == post
    # time restriction applies to the union (store AND tail)
    mid = sorted(r2[0] for r2 in {t[:1] for t in post})[len(post) // 2]
    rt_cut = r.read_with(spark.createDataFrame([], tail.schema),
                         start_us=mid)
    assert all(row["bucket_us"] >= mid for row in rt_cut.collect())


def test_rollup_histogram_size_valve(spark, sf_dir, tmp_path, monkeypatch):
    """MAX_HIST_ENTRIES caps meta growth: past the cap the histogram
    switches OFF (gen_hist=None + hist_disabled persisted — no
    rebuild flip-flop on later writes), auto-reads fall back to the
    gauge with identical results, and a compact() whose fold fits the
    cap re-enables maintenance."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(4000)
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, events.filter(F.col("event_id") % 2 == 0),
                          "ts", ["event_type"], "value", HOUR_US, "valve")
    n_buckets = len(r.gen_hist["0"])
    want = sorted(map(tuple, r.read(spread_keys=False).collect()))

    # shrink the cap below one generation's bucket count -> update trips it
    monkeypatch.setattr(RollupStore, "MAX_HIST_ENTRIES", n_buckets)
    r.update(events.filter(F.col("event_id") % 2 == 1))
    assert r.gen_hist is None and r.hist_disabled
    # persisted: a later write on a fresh handle does NOT rebuild
    r2 = RollupStore.open(cat, "valve")
    assert r2.hist_disabled
    # auto-read answers via the gauge, result-identical
    want2 = sorted(map(tuple, r2.read(spread_keys=False).collect()))
    assert sorted(map(tuple, r2.read(spread_keys="auto").collect())) == want2
    assert want2 != want  # the update actually landed

    # a fold that fits the cap re-enables maintenance
    monkeypatch.setattr(RollupStore, "MAX_HIST_ENTRIES", 100_000)
    r2.compact()
    assert not r2.hist_disabled and r2.gen_hist is not None
    assert list(r2.gen_hist) == [str(r2.cur_gen)]


def test_rollup_store_maintained_from_stream(spark, sf_dir, tmp_path):
    """Streaming maintenance for the rollup store — the foreachBatch
    shape whose clone-session INSERT is exactly the file-listing-cache
    trap the refresh-at-read hardening closes: after draining the
    stream, the merged read equals a batch build over everything the
    store saw."""
    import shutil

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    src = str(tmp_path / "src")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(6000)
    seed = events.filter(F.col("event_id") % 3 == 0)
    rest = events.filter(F.col("event_id") % 3 != 0)
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, seed, "ts", ["event_type"], "value",
                          HOUR_US, "stream")
    rest.write.mode("overwrite").parquet(src)
    q = (
        spark.readStream.schema(events.schema).parquet(src)
        .writeStream.foreachBatch(
            lambda batch, _epoch: r.update(batch) if batch.count() else None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    full = RollupStore.build(
        Catalog(spark, str(tmp_path / "wh2")), events, "ts",
        ["event_type"], "value", HOUR_US, "full",
    )
    got = sorted(map(tuple, r.read().collect()))
    want = sorted(map(tuple, full.read().collect()))
    assert got == want
    shutil.rmtree(src, ignore_errors=True)


def test_rollup_ndv_sketches_merge_across_batches_and_lattice(
    spark, sf_dir, tmp_path
):
    """NDV partials are HLL sketches, so they merge EXACTLY where plain
    distinct counts cannot: users spanning batches are not
    double-counted, corrections re-merge, and the same sketches serve
    the coarser grain (daily ndv from the hourly store's partials)."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import DAY_US, HOUR_US, RollupStore
    from hindex_spark.timeutil import ts_micros

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(20000)
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(
        cat, events.filter(F.col("event_id") % 2 == 0),
        "ts", ["event_type"], "value", HOUR_US, "ndv", ndv_col="user_id",
    )
    bad = r.update(
        events.filter(F.col("event_id") % 2 == 1)
        .withColumn("user_id", F.col("user_id") + 10_000_000)  # wrong ids
    )
    r.replace_batch(bad, events.filter(F.col("event_id") % 2 == 1))

    def exact(grain):
        us = ts_micros(events, "ts")
        return {
            (t[0], t[1]): t[2]
            for t in events.filter(F.col("ts").isNotNull())
            .select(
                (us - us % F.lit(grain)).alias("b"), "event_type", "user_id"
            )
            .groupBy("b", "event_type")
            .agg(F.countDistinct("user_id").alias("d"))
            .collect()
        }

    got_h = {(row["bucket_us"], row["event_type"]): row["ndv"]
             for row in r.read().collect()}
    assert got_h == exact(HOUR_US)
    got_d = {(row["bucket_us"], row["event_type"]): row["ndv"]
             for row in r.read_at(DAY_US).collect()}
    assert got_d == exact(DAY_US)
    # compaction folds partials but keeps sketches mergeable
    r.compact()
    assert {(row["bucket_us"], row["event_type"]): row["ndv"]
            for row in r.read_at(DAY_US).collect()} == got_d


def test_rollup_pctl_sketches_merge_and_serve_lattice(spark, sf_dir, tmp_path):
    """KLL quantile partials merge exactly where plain partials cannot
    (a per-batch p95 says nothing about the union's), survive batch
    corrections, serve the coarser grain, and stay mergeable through
    compaction. Exact-mode reference: value at rank ceil(p*n) of the
    6dp-rounded values."""
    import math

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import DAY_US, HOUR_US, RollupStore
    from hindex_spark.timeutil import ts_micros

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(20000)
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(
        cat, events.filter(F.col("event_id") % 2 == 0),
        "ts", ["event_type"], "value", HOUR_US, "pc",
        pctl_col="value", pctl_k=4096,
    )
    bad = r.update(
        events.filter(F.col("event_id") % 2 == 1)
        .withColumn("value", F.col("value") * 100)
    )
    r.replace_batch(bad, events.filter(F.col("event_id") % 2 == 1))

    def exact(grain, p):
        us = ts_micros(events, "ts")
        rows = (
            events.filter(F.col("ts").isNotNull())
            .select((us - us % F.lit(grain)).alias("b"), "event_type",
                    F.round("value", 6).cast("decimal(18,6)")
                    .cast("double").alias("v"))
            .collect()
        )
        groups = {}
        for row in rows:
            groups.setdefault((row["b"], row["event_type"]), []).append(row["v"])
        return {
            k: sorted(vs)[max(1, math.ceil(p * len(vs))) - 1]
            for k, vs in groups.items()
        }

    got = {(row["bucket_us"], row["event_type"]): row["p95"]
           for row in r.read(pctls=(0.95,)).collect()}
    assert got == exact(HOUR_US, 0.95)
    got_d = {(row["bucket_us"], row["event_type"]): row["p50"]
             for row in r.read_at(DAY_US, pctls=(0.5,)).collect()}
    assert got_d == exact(DAY_US, 0.5)
    r.compact()
    assert {(row["bucket_us"], row["event_type"]): row["p50"]
            for row in r.read_at(DAY_US, pctls=(0.5,)).collect()} == got_d


# ------------------------------------------------------------- profile store

def _ps_frames(spark):
    """Three typed batches (ts long-micros column stays a plain long —
    the store's 'ts' kind is exercised by the gate on real parquet)."""
    cols = ["id", "score", "tag"]
    b1 = spark.createDataFrame(
        [(1, 1.25, "a"), (2, None, "b"), (3, 9.5, None)], cols)
    b2 = spark.createDataFrame(
        [(4, -3.125, "a"), (2, 0.0, "c")], cols)  # id 2 re-seen
    b3 = spark.createDataFrame(
        [(7, 100.0, "zz"), (None, 1.25, "a")], cols)
    return cols, b1, b2, b3


def test_profile_store_read_equals_oneshot_profile(spark, tmp_path):
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.profile import ProfileStore, profile

    cols, b1, b2, b3 = _ps_frames(spark)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ps = ProfileStore.build(cat, b1, cols, "p1")
    ps.update(b2)
    ps.update(b3)
    got = sorted(map(tuple, ps.read().collect()))
    want = sorted(map(tuple, profile(
        b1.unionByName(b2).unionByName(b3), cols).collect()))
    assert got == want
    # reopen from disk: same answer
    ps2 = ProfileStore.open(cat, "p1")
    assert sorted(map(tuple, ps2.read().collect())) == want


def test_profile_store_corrections_and_compact(spark, tmp_path):
    import pytest

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.profile import ProfileStore, profile

    cols, b1, b2, b3 = _ps_frames(spark)
    bad = b2.withColumn("score", F.col("score") + 1000.0)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ps = ProfileStore.build(cat, b1, cols, "p2")
    g_bad = ps.update(bad)
    ps.update(b3)
    # correct the bad batch -> profile of the TRUE union
    g_fix = ps.replace_batch(g_bad, b2)
    want = sorted(map(tuple, profile(
        b1.unionByName(b2).unionByName(b3), cols).collect()))
    assert sorted(map(tuple, ps.read().collect())) == want
    # re-correcting the dead generation refuses, naming the superseder
    with pytest.raises(ValueError, match=f"superseded by generation {g_fix}"):
        ps.replace_batch(g_bad, b2)
    # retract b3 entirely
    g3 = [g for g in range(1, ps.cur_gen + 1)
          if str(g) not in ps.corrected and g not in (g_fix,)]
    ps.delete_batch(g3[0])
    want2 = sorted(map(tuple, profile(b1.unionByName(b2), cols).collect()))
    assert sorted(map(tuple, ps.read().collect())) == want2
    # compact folds to one live row per column, same answer, seals gens
    ps.compact()
    assert sorted(map(tuple, ps.read().collect())) == want2
    assert ps.live_partials().count() == len(cols)
    with pytest.raises(ValueError, match="folded by compact"):
        ps.delete_batch(g_fix)


def test_profile_store_refuses_kind_drift(spark, tmp_path):
    import pytest

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.profile import ProfileStore

    cat = Catalog(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame([(1, 2.5)], ["id", "v"])
    ps = ProfileStore.build(cat, b1, ["id", "v"], "p3")
    drifted = spark.createDataFrame([(2, "oops")], ["id", "v"])
    with pytest.raises(TypeError, match="kind changed"):
        ps.update(drifted)
    with pytest.raises(ValueError, match="missing profiled column"):
        ps.update(spark.createDataFrame([(3,)], ["id"]))


# ---------------------------------------------------------------- chunking

def test_chunk_documents_semantics(spark):
    import pytest

    from hindex_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"),      # 7 toks
         (2, "x y"),                # fits in one chunk
         (3, None),                 # no chunks
         (4, "   "),                # whitespace-only: no chunks
         (5, " p  q\tr ")],         # messy whitespace -> canonical join
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, max_tokens=4, overlap=1)
    rows = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
            for r in out.collect()}
    # stride 3: doc 1 (7 toks) -> ceil((7-4)/3)=1 extra -> 2 chunks
    assert rows[(1, 0)] == (4, "a b c d")
    assert rows[(1, 1)] == (4, "d e f g")          # overlap token 'd'
    assert rows[(2, 0)] == (2, "x y")
    assert rows[(5, 0)] == (3, "p q r")
    assert not any(d in (3, 4) for d, _ in rows)
    # full coverage: every token index of doc 1 appears in some chunk
    assert set("abcdefg") == set(
        "".join(t for _, (_, txt) in rows.items() for t in txt.split())
    ) - {"x", "y", "p", "q", "r"}
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, max_tokens=4, overlap=4)


def test_chunk_documents_no_overlap_exact_partition(spark):
    from hindex_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], ["doc_id", "text"])
    out = chunk_documents(docs, max_tokens=3, overlap=0).collect()
    assert [r["n_tokens"] for r in sorted(out, key=lambda r: r["chunk_idx"])] \
        == [3, 3, 3, 1]
    joined = " ".join(
        r["chunk_text"] for r in sorted(out, key=lambda r: r["chunk_idx"]))
    assert joined == " ".join(f"t{i}" for i in range(10))


def test_chunk_documents_plan_is_mapside(spark):
    from hindex_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = chunk_documents(docs, 2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_profile_store_update_from_stream(spark, tmp_path):
    """ProfileStore.update inside a streaming foreachBatch (the
    session-clone INSERT path): after the stream drains, the merged
    read must equal the one-shot profile of everything ingested."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.profile import ProfileStore, profile

    cols = ["id", "score", "tag"]
    seed = spark.createDataFrame([(0, 0.5, "seed")], cols)
    more = spark.createDataFrame(
        [(1, 1.25, "a"), (2, None, "b"), (3, 9.5, None), (4, -2.0, "a")],
        cols)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ps = ProfileStore.build(cat, seed, cols, "pstream")
    src = str(tmp_path / "src")
    more.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(more.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _e: ps.update(b) if b.count() else None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, ProfileStore.open(cat, "pstream").read().collect()))
    want = sorted(map(tuple, profile(seed.unionByName(more), cols).collect()))
    assert got == want


def test_profile_store_quantiles_merge_exact_under_k(spark, tmp_path):
    """KLL quantile columns through the store: merged-across-batches
    quantiles equal the one-shot profiler's (both exact under k), and
    string columns render NULL (their merged slot must never be
    queried)."""
    import pytest

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.profile import ProfileStore, profile

    cols = ["id", "score", "tag"]
    b1 = spark.createDataFrame(
        [(i, float(i) * 1.5, f"t{i}") for i in range(20)], cols)
    b2 = spark.createDataFrame(
        [(i, float(i) * 1.5, f"t{i}") for i in range(20, 50)], cols)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ps = ProfileStore.build(cat, b1, cols, "pq", pctl_k=512)
    ps.update(b2)
    pctls = [0.5, 0.95]
    got = {r["col_name"]: (r["p50"], r["p95"])
           for r in ps.read(pctls=pctls).collect()}
    want = {r["col_name"]: (r["p50"], r["p95"])
            for r in profile(b1.unionByName(b2), cols,
                             pctls=pctls, pctl_k=512).collect()}
    assert got == want
    assert got["tag"] == (None, None)
    assert got["score"][0] == pytest.approx(36.0)  # rank ceil(.5*50)=25 -> 24*1.5
    # non-quantile columns still match the plain one-shot profile
    got_plain = sorted(map(tuple, ps.read().collect()))
    want_plain = sorted(map(tuple, profile(
        b1.unionByName(b2), cols).collect()))
    assert got_plain == want_plain
    # reopen: pctl_k round-trips; a store built without it refuses
    assert ProfileStore.open(cat, "pq").read(pctls=[0.5]).count() == 3
    ps0 = ProfileStore.build(cat, b1, cols, "pq0")
    with pytest.raises(ValueError, match="no quantile sketches"):
        ps0.read(pctls=[0.5])
    # compact folds the sketches too: same quantiles after
    ps.compact()
    got_c = {r["col_name"]: (r["p50"], r["p95"])
             for r in ps.read(pctls=pctls).collect()}
    assert got_c == want


def test_rollup_read_sliding(spark, tmp_path):
    import pytest
    from datetime import datetime

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    rows = [
        (1, datetime(2024, 1, 1, 10, 15), "click", 1.0),
        (2, datetime(2024, 1, 1, 12, 45), "click", 3.0),
        (3, datetime(2024, 1, 1, 11, 5), "view", 2.0),
    ]
    cols = ["event_id", "ts", "event_type", "value"]
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(
        cat, spark.createDataFrame(rows[:2], cols),
        "ts", ["event_type"], "value", HOUR_US, "slide",
        ndv_col="event_id",
    )
    r.update(spark.createDataFrame(rows[2:], cols))
    # 3h window sliding hourly: the two clicks (10:xx, 12:xx) co-occur
    # ONLY in the window starting at their common covering hour
    got = {(x["win_start"], x["event_type"]): (x["cnt"], float(x["vsum"]),
                                               x["ndv"])
           for x in r.read_sliding(3 * HOUR_US, HOUR_US).collect()}
    clicks = sorted(k for k in got if k[1] == "click")
    # click buckets b10 and b12: windows covering both = {b10} (w <= b10
    # and w+3h > b12 -> w == b10); each click alone covers 3 windows ->
    # 2*3 - 1 = 5 distinct click windows
    assert len(clicks) == 5
    both = [k for k in clicks if got[k] == (2, 4.0, 2)]
    assert len(both) == 1
    # every other click window holds exactly one click (ndv sketch
    # slides along with the plain partials)
    assert all(got[k][0] == 1 and got[k][2] == 1
               for k in clicks if k != both[0])
    # window == slide == grain degenerates to read() exactly
    tumb = {(x["bucket_us"], x["event_type"]): (x["cnt"], float(x["vsum"]))
            for x in r.read().collect()}
    degen = {(x["win_start"], x["event_type"]): (x["cnt"], float(x["vsum"]))
             for x in r.read_sliding(HOUR_US).collect()}
    assert degen == tumb
    # guards: non-multiples and slide > window refuse loudly
    with pytest.raises(ValueError, match="multiple"):
        r.read_sliding(HOUR_US + 1)
    with pytest.raises(ValueError, match="drop buckets"):
        r.read_sliding(HOUR_US, 2 * HOUR_US)


def test_rollup_read_sliding_spread_identical(spark, tmp_path):
    """spread_keys on the sliding read is the same deliberate
    one-exchange trade as read(): result-identical, never semantic."""
    from datetime import datetime

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    rows = [(i, datetime(2024, 1, 1, 8 + (i % 5), i % 60), "t%d" % (i % 3),
             float(i)) for i in range(60)]
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(
        cat, spark.createDataFrame(rows, ["event_id", "ts", "event_type",
                                          "value"]),
        "ts", ["event_type"], "value", HOUR_US, "slidesp",
    )
    plain = sorted(map(tuple, r.read_sliding(3 * HOUR_US).collect()))
    spread = sorted(map(tuple,
                        r.read_sliding(3 * HOUR_US,
                                       spread_keys=True).collect()))
    assert plain == spread and len(plain) > 0


# --------------------------------------------------------- weighted sampling

def test_weighted_sample_matches_python_model(spark):
    """Bit-exact vs the same md5-hash E-S model in Python: top-k by
    per-id max of the 60-bit (id#rep) hashes, ties by id."""
    import hashlib

    from hindex_spark.operators.sampling import weighted_sample

    rows = [(i, (i % 4) + 1) for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = [(r["doc_id"], r["sample_key"])
           for r in weighted_sample(df, 7, "doc_id", "w").collect()]

    def h(i, rep):
        return int(hashlib.md5(f"{i}#{rep}".encode()).hexdigest()[:15], 16)

    keys = {i: max(h(i, rep) for rep in range(1, w + 1)) for i, w in rows}
    want = sorted(keys.items(), key=lambda kv: (-kv[1], kv[0]))[:7]
    assert got == [(i, k) for i, k in want]


def test_weighted_sample_is_weight_proportional(spark):
    """Statistical sanity at the population level: ids with weight 9
    must be selected far more often than weight-1 ids (exactly the E-S
    guarantee), measured across many disjoint id universes."""
    from hindex_spark.operators.sampling import weighted_sample

    # 400 ids, half weight 9 and half weight 1; take 100
    rows = [(i, 9 if i % 2 == 0 else 1) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    picked = [r["doc_id"] for r in
              weighted_sample(df, 100, "doc_id", "w").collect()]
    heavy = sum(1 for i in picked if i % 2 == 0)
    # E[heavy] ~ 88 of 100 (9:1 odds); even a loose bound separates it
    assert heavy > 70
    # deterministic: same call, same answer
    again = [r["doc_id"] for r in
             weighted_sample(df, 100, "doc_id", "w").collect()]
    assert picked == again


def test_weighted_sample_clamps_and_defaults(spark):
    import pytest

    from hindex_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, None), (2, -5), (3, 10**9)], ["doc_id", "w"])
    out = weighted_sample(df, 3, "doc_id", "w", max_weight=4).collect()
    assert len(out) == 3  # NULL->1, negative->1, huge->clamped: all eligible
    with pytest.raises(ValueError, match="positive"):
        weighted_sample(df, 0, "doc_id", "w")


def test_profile_store_read_with_realtime_tail(spark, tmp_path):
    """read_with(tail) must equal read() after update(tail) — exactly,
    including quantile sketches — without mutating the store."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.profile import ProfileStore

    cols = ["id", "score", "tag"]
    b1 = spark.createDataFrame(
        [(i, float(i), f"t{i}") for i in range(15)], cols)
    tail = spark.createDataFrame(
        [(i, float(i) * 2, f"u{i}") for i in range(15, 40)], cols)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ps = ProfileStore.build(cat, b1, cols, "prt", pctl_k=256)
    gen_before = ps.cur_gen
    live = sorted(map(tuple, ps.read_with(tail, pctls=[0.5]).collect()))
    assert ps.cur_gen == gen_before  # nothing persisted
    ps.update(tail)
    assert live == sorted(map(tuple, ps.read(pctls=[0.5]).collect()))


def test_joinview_maintained_from_stream(spark, sf_dir, tmp_path):
    """JoinView delta maintenance inside a streaming foreachBatch (the
    clone-session INSERT shape the other stores harden against): right
    side grows from a stream; after draining, the served view equals
    the plain join of everything both sides saw."""
    import shutil

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.joinview import JoinView

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    ).limit(500)
    items = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber",
    ).join(orders.select("o_orderkey"), "o_orderkey", "left_semi")
    seed = items.filter(F.col("l_linenumber") <= 2)
    rest = items.filter(F.col("l_linenumber") > 2)

    cat = Catalog(spark, str(tmp_path / "wh"))
    jv = JoinView.build(cat, orders, seed, "o_orderkey", "jvstream")

    src = str(tmp_path / "src")
    rest.write.mode("overwrite").parquet(src)
    q = (
        spark.readStream.schema(rest.schema).parquet(src)
        .writeStream.foreachBatch(
            lambda batch, _e: jv.update_right(batch) if batch.count()
            else None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(tuple(r) for r in jv.read().collect())
    want = sorted(tuple(r) for r in orders.join(items, "o_orderkey").collect())
    assert got == want
    shutil.rmtree(src, ignore_errors=True)


def test_cluster_balanced_sample_quota_and_assignment(spark):
    """Three well-separated centroids, unbalanced membership: every
    cluster contributes at most the quota, members go to their true
    nearest centroid, ranks are 1..n by ascending id."""
    from hindex_spark.operators.sampling import cluster_balanced_sample

    def v(x, y):
        return [float(x), float(y), 0.0]

    # cluster 0 direction (1,0), cluster 1 (0,1), cluster 2 (1,1)
    cents = spark.createDataFrame(
        [(0, v(1, 0)), (1, v(0, 1)), (2, v(1, 1))],
        "cluster long, centroid array<double>",
    )
    rows = (
        [(i, v(10 + i, 1)) for i in range(5)]          # near (1,0)
        + [(10 + i, v(1, 10 + i)) for i in range(2)]   # near (0,1)
        + [(20, v(5, 5))]                              # near (1,1)
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        tuple(r)
        for r in cluster_balanced_sample(emb, cents, 3).collect()
    )
    assert got == [
        (0, 0, 1), (1, 0, 2), (2, 0, 3),       # quota cuts ids 3, 4
        (10, 1, 1), (11, 1, 2),
        (20, 2, 1),
    ]


def test_joinview_read_with_matches_post_update_read(spark, tmp_path):
    """The lambda read: read_with(tail_l, tail_r) must equal read()
    after actually ingesting both tails (tl><R + L><tr + tl><tr, no
    writes) — multiset equality including duplicate join rows."""
    from collections import Counter

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.joinview import JoinView

    cat = Catalog(spark, str(tmp_path / "wh"))
    L = spark.createDataFrame([(1, "a"), (2, "b")], "k long, lv string")
    R = spark.createDataFrame([(1, 10), (2, 20)], "k long, rv long")
    jv = JoinView.build(cat, L, R, "k", "lam")
    tl = spark.createDataFrame([(1, "z"), (3, "c")], "k long, lv string")
    tr = spark.createDataFrame([(1, 11), (3, 30)], "k long, rv long")
    lam = Counter(tuple(r) for r in jv.read_with(tl, tr).collect())
    jv.update_left(tl)
    jv.update_right(tr)
    ingested = Counter(tuple(r) for r in jv.read().collect())
    assert lam == ingested
    # single-tail variants
    assert Counter(
        tuple(r) for r in jv.read_with(tail_left=None, tail_right=None)
        .collect()
    ) == ingested


def test_joinview_maybe_compact_file_trigger(spark, tmp_path):
    """artifact.maybe_compact schedules JoinView maintenance off the MV
    file-fragmentation gauge (this store has no tombstone files), and
    the fold preserves the served view."""
    from collections import Counter

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.artifact import maybe_compact
    from hindex_spark.operators.joinview import JoinView

    cat = Catalog(spark, str(tmp_path / "wh"))
    L = spark.createDataFrame([(1, "a")], "k long, lv string")
    R = spark.createDataFrame([(1, 10)], "k long, rv long")
    jv = JoinView.build(cat, L, R, "k", "mc", num_buckets=2)
    for i in range(3):
        jv.update_right(
            spark.createDataFrame([(1, 100 + i)], "k long, rv long")
        )
    before = Counter(tuple(r) for r in jv.read().collect())
    assert not maybe_compact(jv, max_files_per_bucket=100)   # under
    assert maybe_compact(jv, max_files_per_bucket=1)         # over
    assert jv.sealed_lbelow > 0
    assert Counter(tuple(r) for r in jv.read().collect()) == before


def test_top_ngrams_short_docs_and_ties(spark):
    from hindex_spark.operators.text import top_ngrams

    df = spark.createDataFrame(
        [("a b a b",), ("a b",), ("x",), ("",), (None,)],
        "text string",
    )
    got = [tuple(r) for r in top_ngrams(df, n=2, k=3).collect()]
    # "a b" x3 (twice in doc1, once in doc2), then "b a" x1; the
    # 1-token / empty / null docs contribute nothing (and must not
    # trip Spark's backwards sequence(1, 0))
    assert got == [("a b", 3), ("b a", 1)]
    with pytest.raises(ValueError, match=">= 1"):
        top_ngrams(df, n=0)


def test_histogram_edges_and_degenerate(spark):
    from hindex_spark.operators.profile import histogram

    df = spark.createDataFrame(
        [(0.0,), (2.5,), (5.0,), (7.5,), (10.0,), (None,)], "v double"
    )
    rows = {r["bin"]: (r["lo"], r["hi"], r["cnt"])
            for r in histogram(df, "v", bins=4).collect()}
    # max value lands in the LAST bin (clamped), nulls excluded
    assert {b: c for b, (_, _, c) in rows.items()} == {
        0: 1, 1: 1, 2: 1, 3: 2}
    assert rows[0][0] == 0.0 and rows[3][1] == 10.0
    const = spark.createDataFrame([(7.0,), (7.0,), (None,)], "v double")
    got = histogram(const, "v").collect()
    assert len(got) == 1 and got[0]["cnt"] == 2
    with pytest.raises(ValueError, match="bins"):
        histogram(df, "v", bins=0)


def test_flag_anomalies_mad_semantics(spark):
    from hindex_spark.operators.profile import flag_anomalies

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 100.0),
         ("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 6.0)],
        "k string, v double",
    )
    got = {(r["k"], r["v"]): (r["med"], r["mad"], r["is_anomaly"])
           for r in flag_anomalies(df, ["k"], "v", k=3.0).collect()}
    # 'a': discrete median = element at rank ceil(4/2)=2 -> 2.0;
    # MAD = median of {1,0,1,98} -> rank-2 element of sorted {0,1,1,98}
    # = 1.0; only 100 exceeds 3*1
    assert got[("a", 100.0)] == (2.0, 1.0, True)
    assert got[("a", 3.0)] == (2.0, 1.0, False)
    # 'b': MAD 0 (constant majority) -> any deviation flags
    assert got[("b", 6.0)][1:] == (0.0, True)
    assert got[("b", 5.0)][2] is False


def test_joinview_left_outer_tracks_retractions(spark, tmp_path):
    """Unmatched-left derivation reacts to BOTH directions: a right
    delta matching a key removes its null row; retracting that delta
    resurrects it."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.joinview import JoinView

    cat = Catalog(spark, str(tmp_path / "wh"))
    L = spark.createDataFrame([(1, "a"), (2, "b")], "k long, lv string")
    R = spark.createDataFrame([(1, 10)], "k long, rv long")
    jv = JoinView.build(cat, L, R, "k", "lo")

    def rows():
        return sorted(
            tuple(r) for r in jv.read_left_outer().collect()
        )

    assert rows() == [(1, "a", 10), (2, "b", None)]
    g = jv.update_right(spark.createDataFrame([(2, 20)], "k long, rv long"))
    assert rows() == [(1, "a", 10), (2, "b", 20)]
    jv.delete_right_batch(g)
    assert rows() == [(1, "a", 10), (2, "b", None)]


def test_profile_store_read_asof(spark, tmp_path):
    """Time travel on the profile ledger: every version replays to the
    one-shot profile of exactly the batches live at that version;
    compact seals; reopened handles serve history from meta."""
    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.profile import ProfileStore, profile

    cat = Catalog(spark, str(tmp_path / "wh"))

    def mk(n0, n1, shift=0.0):
        return spark.range(n0, n1).select(
            F.col("id"), (F.col("id") * 1.5 + shift).alias("score"))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    ps = ProfileStore.build(cat, mk(0, 50), ["id", "score"], "ttp")
    ps.update(mk(50, 100))                      # v1
    g2 = ps.update(mk(100, 150, shift=1e9))     # v2 (bad)
    ps.replace_batch(g2, mk(100, 150))          # v3
    assert rows(ps.read_asof(1)) == rows(profile(mk(0, 100),
                                                 ["id", "score"]))
    bad_max = [r for r in ps.read_asof(2).collect()
               if r["col_name"] == "score"][0]["max_repr"]
    assert bad_max.startswith("10000002")       # the misreport, visible
    assert rows(ps.read_asof(3)) == rows(ps.read())
    ps.compact()                                # v4 seals
    with pytest.raises(ValueError, match="sealed by compact"):
        ps.read_asof(2)
    ps2 = ProfileStore.open(cat, "ttp")
    ps2.update(mk(150, 160))                    # v5
    assert rows(ps2.read_asof(5)) == rows(ps2.read())
    assert rows(ps2.read_asof(4)) == rows(profile(mk(0, 150),
                                                  ["id", "score"]))
    with pytest.raises(ValueError, match="does not exist"):
        ps2.read_asof(9)
