"""Tests for artifact-store upsert/delete (operators/artifact.py — the
generation + tombstone pattern): replacement identity with a fresh
build, stats maintenance, physical purge at compact, crash-window
idempotence, and plan quality (token bucket pruning survives the
tombstone join)."""

import os
import re

import pytest
from pyspark.sql import functions as F

from hindex_spark.catalog import Catalog
from hindex_spark.operators import dedup as dd
from hindex_spark.operators.dedup_state import DedupState
from hindex_spark.operators.search import SearchIndex, bm25_topk


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _mangle(docs, cond):
    return docs.withColumn(
        "text",
        F.when(cond, F.concat(F.lit("stalepad xyzzy "), F.col("text")))
        .otherwise(F.col("text")),
    )


def _topk_rows(ix, q="spark merge vector"):
    return [
        (r["doc_id"], r["score"])
        for r in ix.topk(q, k=25).orderBy(F.desc("score"), "doc_id").collect()
    ]


def test_search_upsert_matches_fresh_scan(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    stale = F.col("doc_id") < 50
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, _mangle(docs, stale), "doc_id", "text", "d")
    ix.upsert(docs.filter(stale))
    got = _topk_rows(ix)
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(docs, "doc_id", "text", "spark merge vector", k=25)
        .orderBy(F.desc("score"), "doc_id").collect()
    ]
    assert got == want


def test_search_upsert_stats_match_repair(spark, sf_dir, tmp_path):
    """The incremental n_docs/sum_dl arithmetic (add new, subtract old
    LIVE) must equal a from-scratch recompute over live postings."""
    docs = _docs(spark, sf_dir)
    stale = F.col("doc_id") < 50
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, _mangle(docs, stale), "doc_id", "text", "d")
    ix.upsert(docs.filter(stale))
    # a second upsert of an overlapping slice exercises the multi-gen cut
    ix.upsert(docs.filter(F.col("doc_id") < 20))
    n, s = ix.n_docs, ix.sum_dl
    ix.repair_stats()
    assert (n, s) == (ix.n_docs, ix.sum_dl)


def test_search_delete_then_compact_purges(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "d")
    ix.delete(docs.filter(F.col("doc_id") < 10))
    # masked immediately, before any rewrite
    assert ix.postings.filter(F.col("doc_id") < 10).count() == 0
    raw_before = ix._raw().count()
    ix.compact()
    assert not os.path.isdir(ix._tombstone_path())
    assert ix._raw().count() < raw_before
    assert ix._raw().filter(F.col("doc_id") < 10).count() == 0


def test_search_stale_tombstones_reapply_as_noop(spark, sf_dir, tmp_path):
    """Crash window: compact saved the purged table but died before
    clearing tombstones. Re-applying the stale cuts (gens preserved)
    must change nothing."""
    docs = _docs(spark, sf_dir)
    stale = F.col("doc_id") < 50
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, _mangle(docs, stale), "doc_id", "text", "d")
    ix.upsert(docs.filter(stale))
    before = _topk_rows(ix)
    # simulate the crash: compact, then restore the tombstone directory
    import shutil

    tomb = ix._tombstone_path()
    saved = str(tmp_path / "tomb_copy")
    shutil.copytree(tomb, saved)
    ix.compact()
    shutil.copytree(saved, tomb)
    assert _topk_rows(ix) == before


def test_search_bucket_pruning_survives_tombstones(spark, sf_dir, tmp_path):
    """The live view's broadcast tombstone join must not defeat
    token-bucket pruning: the term filter still reaches the scan."""
    docs = _docs(spark, sf_dir)
    stale = F.col("doc_id") < 50
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, _mangle(docs, stale), "doc_id", "text", "d")
    ix.upsert(docs.filter(stale))
    assert os.path.isdir(ix._tombstone_path())
    plan = (
        ix.topk("spark merge vector", k=25)
        ._jdf.queryExecution().executedPlan().toString()
    )
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"no bucket pruning in plan:\n{plan}"
    assert int(m.group(1)) < int(m.group(2))


def test_search_phrase_and_tfidf_see_live_rows(spark, sf_dir, tmp_path):
    """Every read path resolves tombstones — the mangled term must be
    unfindable after the upsert."""
    docs = _docs(spark, sf_dir)
    stale = F.col("doc_id") < 50
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, _mangle(docs, stale), "doc_id", "text", "d")
    assert ix.phrase_search("stalepad xyzzy").count() > 0
    ix.upsert(docs.filter(stale))
    assert ix.phrase_search("stalepad xyzzy").count() == 0
    kw = ix.tfidf_keywords(top_n=5)
    assert kw.filter(F.col("token").isin("stalepad", "xyzzy")).count() == 0


def test_dedup_state_upsert_matches_stateless(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    stale = F.col("doc_id") < 100
    cat = Catalog(spark, str(tmp_path / "wh"))
    st = DedupState.build(cat, _mangle(corpus, stale), "doc_id", "text", "c")
    st.upsert(corpus.filter(stale))
    got = sorted(
        r["doc_id"]
        for r in st.dedup_batch(batch, corpus, 0.9, max_bucket=None)
        .select("doc_id").collect()
    )
    want = sorted(
        r["doc_id"]
        for r in dd.incremental_dedup(
            batch, corpus, "doc_id", "text", 0.9, max_bucket=None
        ).select("doc_id").collect()
    )
    assert got == want


def test_dedup_state_delete_then_compact_purges(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    cat = Catalog(spark, str(tmp_path / "wh"))
    st = DedupState.build(cat, corpus, "doc_id", "text", "c")
    st.delete(corpus.filter(F.col("doc_id") < 20))
    assert st.df.filter(F.col("doc_id") < 20).count() == 0
    st.compact()
    assert not os.path.isdir(st._tombstone_path())
    assert st._raw().filter(F.col("doc_id") < 20).count() == 0


def test_dedup_state_upsert_survives_reopen(spark, sf_dir, tmp_path):
    """cur_gen persists in the meta: a reopened handle's next upsert
    must cut the earlier one's generation, not collide with it."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0).limit(200)
    cat = Catalog(spark, str(tmp_path / "wh"))
    st = DedupState.build(cat, _mangle(corpus, F.lit(True)), "doc_id", "text", "c")
    st.upsert(_mangle(corpus, F.lit(True)).limit(50))
    st2 = DedupState.open(cat, "c")
    assert st2.cur_gen == 1
    st2.upsert(corpus.limit(50))
    assert st2.df.count() == st2.df.select("doc_id").distinct().count()


def test_rebuild_clears_previous_incarnation_tombstones(spark, sf_dir, tmp_path):
    """build() under an existing artifact name restarts generations at
    0 — the previous incarnation's tombstones (below_gen >= 1) must not
    survive to silently kill every fresh row."""
    docs = _docs(spark, sf_dir).limit(100)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "re")
    ix.upsert(docs.filter(F.col("doc_id") < 50))
    assert os.path.isdir(ix._tombstone_path())
    ix2 = SearchIndex.build(cat, docs, "doc_id", "text", "re")
    assert not os.path.isdir(ix2._tombstone_path())
    assert ix2.postings.select("doc_id").distinct().count() == 100

    st = DedupState.build(cat, docs, "doc_id", "text", "re")
    st.upsert(docs.filter(F.col("doc_id") < 50))
    st2 = DedupState.build(cat, docs, "doc_id", "text", "re")
    assert st2.df.count() == 100

    from hindex_spark.operators.ann_index import AnnIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    ax = AnnIndex.build(cat, emb, "vec_id", "embedding", "re",
                        n_clusters=4, iters=1)
    ax.delete(emb.filter(F.col("vec_id") < 50))
    ax2 = AnnIndex.build(cat, emb, "vec_id", "embedding", "re",
                         n_clusters=4, iters=1)
    assert ax2.vectors.count() == 100


def test_maintenance_stats_gauge(spark, sf_dir, tmp_path):
    from hindex_spark.operators.artifact import maintenance_stats

    docs = _docs(spark, sf_dir).limit(60)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "g")
    s0 = maintenance_stats(cat, ix.table_name)
    assert s0["tombstoned_ids"] == 0 and s0["data_files"] >= 1
    ix.upsert(docs.filter(F.col("doc_id") < 10))
    ix.delete(docs.filter(F.col("doc_id").between(10, 14)))
    s1 = maintenance_stats(cat, ix.table_name)
    assert s1["tombstoned_ids"] == 15
    assert s1["data_files"] > s0["data_files"]
    ix.compact()
    s2 = maintenance_stats(cat, ix.table_name)
    assert s2["tombstoned_ids"] == 0
    assert s2["data_files"] <= ix.num_buckets


def test_search_upsert_from_stream(spark, sf_dir, tmp_path):
    """upsert() inside a streaming foreachBatch (session-clone INSERT +
    tombstone write under the lease): the final index must equal a
    fresh build over the corrected corpus."""
    import shutil

    docs = _docs(spark, sf_dir).limit(80)
    stale = F.col("doc_id") < 30
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, _mangle(docs, stale), "doc_id", "text", "s")
    src = str(tmp_path / "src")
    docs.filter(stale).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _e: ix.upsert(b) if b.count() else None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    fresh = SearchIndex.build(
        Catalog(spark, str(tmp_path / "wh2")), docs, "doc_id", "text", "f"
    )
    got = _topk_rows(ix)
    want = [
        (r["doc_id"], r["score"])
        for r in fresh.topk("spark merge vector", k=25)
        .orderBy(F.desc("score"), "doc_id").collect()
    ]
    assert got == want
    shutil.rmtree(src, ignore_errors=True)


def test_post_compact_insert_column_order_all_stores(spark, sf_dir, tmp_path):
    """The exact sequence the interleaving property falsified on
    SearchIndex (upsert -> purging compact -> upsert): the purged
    rewrite must keep the declared column order or the next positional
    INSERT INTO miswrites. Pin it for the other two stores, which share
    live_view."""
    from hindex_spark.operators.ann_index import AnnIndex

    docs = _docs(spark, sf_dir).limit(60)
    cat = Catalog(spark, str(tmp_path / "wh"))

    st = DedupState.build(cat, docs, "doc_id", "text", "o")
    st.upsert(docs.filter(F.col("doc_id") < 10))
    st.compact()
    st.upsert(docs.filter(F.col("doc_id") < 5))
    assert st.df.count() == 60
    assert st.df.columns[:2] == ["doc_id", "__fp"]

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    ax = AnnIndex.build(cat, emb, "vec_id", "embedding", "o",
                        n_clusters=4, iters=1)
    ax.upsert(emb.filter(F.col("vec_id") < 10))
    ax.compact()
    ax.upsert(emb.filter(F.col("vec_id") < 5))
    assert ax.vectors.count() == 60
    assert ax.vectors.columns[0] == "cluster"


def test_list_artifacts_discovers_all_kinds(spark, sf_dir, tmp_path):
    from hindex_spark.operators.ann_index import AnnIndex
    from hindex_spark.operators.artifact import list_artifacts
    from hindex_spark.operators.joinview import JoinView
    from hindex_spark.operators.profile import ProfileStore
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    docs = _docs(spark, sf_dir).limit(30)
    cat = Catalog(spark, str(tmp_path / "wh"))
    assert list_artifacts(cat) == []
    SearchIndex.build(cat, docs, "doc_id", "text", "a")
    DedupState.build(cat, docs, "doc_id", "text", "b")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(30)
    AnnIndex.build(cat, emb, "vec_id", "embedding", "c",
                   n_clusters=4, iters=1)
    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(100)
    RollupStore.build(cat, events, "ts", ["event_type"], "value",
                      HOUR_US, "d")
    assert list_artifacts(cat) == [
        ("a", "search_index"), ("b", "dedup_state"),
        ("c", "ann_index"), ("d", "rollup_store"),
    ]
    ProfileStore.build(cat, events.select("event_type", "value"),
                       ["event_type", "value"], "e")
    JoinView.build(cat, docs.select("doc_id", "text"),
                   docs.select("doc_id", F.length("text").alias("n")),
                   "doc_id", "f", num_buckets=2)
    assert list_artifacts(cat) == [
        ("a", "search_index"), ("b", "dedup_state"),
        ("c", "ann_index"), ("d", "rollup_store"),
        ("e", "profile_store"), ("f", "join_view"),
    ]


def test_maybe_compact_schedules_on_thresholds(spark, sf_dir, tmp_path):
    from hindex_spark.operators.artifact import maybe_compact

    docs = _docs(spark, sf_dir).limit(40)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "m")
    assert maybe_compact(ix) is False  # no debt yet
    ix.upsert(docs.filter(F.col("doc_id") < 10))
    before = _topk_rows(ix)
    assert maybe_compact(ix, max_tombstoned=5) is True
    assert not os.path.isdir(ix._tombstone_path())
    assert _topk_rows(ix) == before  # purge is read-invisible
    assert maybe_compact(ix, max_tombstoned=5) is False  # debt cleared


def test_doclen_side_table_maintained_and_used(spark, sf_dir, tmp_path):
    """The upsert stats probe reads the narrow (id, dl, gen) side table
    (~20 bytes/doc) instead of scanning the postings; the side table
    tracks every mutation and always equals the live postings' distinct
    (id, dl) projection; compact rebuilds it from the purged postings."""
    docs = _docs(spark, sf_dir).limit(80)
    stale = F.col("doc_id") < 30
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, _mangle(docs, stale), "doc_id", "text", "dl")
    assert ix._has_doclen()

    def _doclen_matches_postings():
        a = sorted(
            (r["doc_id"], r["dl"])
            for r in ix.doclens.select("doc_id", "dl").distinct().collect()
        )
        b = sorted(
            (r["doc_id"], r["dl"])
            for r in ix.postings.select("doc_id", "dl").distinct().collect()
        )
        assert a == b and len(a) == 80

    _doclen_matches_postings()
    ix.upsert(docs.filter(stale))
    _doclen_matches_postings()
    ix.update(docs.filter(F.col("doc_id") >= 80).limit(0))  # no-op batch ok
    n, s = ix.n_docs, ix.sum_dl
    ix.repair_stats()
    assert (n, s) == (ix.n_docs, ix.sum_dl)
    ix.compact()
    _doclen_matches_postings()
    # the probe plan reads the doclen table, not the postings
    probe = ix.doclens.join(
        F.broadcast(docs.limit(3).select("doc_id")), "doc_id", "left_semi"
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "doclen" in plan and "positions" not in plan


def test_purge_to_empty_then_refill_all_stores(spark, sf_dir, tmp_path):
    """An artifact compacted down to ZERO live rows must read as an
    empty frame (Lucene happily compacts to zero live docs) and accept
    the next batch: the _schema.ddl sidecar pins every re-read and
    re-attach, so no path falls back to footer inference over an empty
    directory (round-8 property-test counterexample: delete all,
    compact -> UNABLE_TO_INFER_SCHEMA)."""
    from hindex_spark.operators.ann_index import AnnIndex
    from hindex_spark.operators.dedup_state import DedupState

    cat = Catalog(spark, str(tmp_path / "wh"))

    docs = spark.createDataFrame(
        [(i, f"doc {i} alpha beta gamma") for i in range(4)],
        "doc_id long, text string",
    )
    ix = SearchIndex.build(cat, docs, "doc_id", "text", "p2e")
    ix.delete(docs.select("doc_id"))
    ix.compact()
    assert ix.postings.count() == 0 and ix.doclens.count() == 0
    ix.update(docs.filter(F.col("doc_id") >= 2))
    assert ix.postings.select("doc_id").distinct().count() == 2
    assert ix.n_docs == 2

    st = DedupState.build(cat, docs, "doc_id", "text", "p2e")
    st.delete(docs.select("doc_id"))
    st.compact()
    assert st.df.count() == 0
    st.update(docs.filter(F.col("doc_id") < 2))
    assert st.df.count() == 2

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0 - i, 0.5 * i]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    ax = AnnIndex.build(cat, emb, "vec_id", "embedding", "p2e",
                        n_clusters=2, iters=1)
    ax.delete(emb.select("vec_id"))
    ax.compact()
    assert ax.vectors.count() == 0
    ax.update(emb.limit(3))
    assert ax.vectors.count() == 3


def test_rollup_expire_everything_reads_empty(spark, sf_dir, tmp_path):
    """Retention that outlives every bucket leaves an empty store that
    still reads (sidecar-pinned) and still accepts the next batch."""
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(
        cat, events.limit(500), "ts", ["event_type"], "value",
        HOUR_US, "p2e",
    )
    r.expire(before_us=2**62)  # beyond every bucket
    assert r.read().count() == 0
    r.update(events.limit(100))
    assert r.read().count() > 0


def test_pre_generation_search_store_migrates_on_mutation(
    spark, sf_dir, tmp_path
):
    """A store written BEFORE the gen column existed (round-7 layout:
    no gen, no doclen side table) must migrate in place on its first
    mutation — update/upsert/compact previously mismatched the
    positional INSERT or crashed selecting the absent column."""
    import shutil

    from hindex_spark.table import Table as _Table

    docs = spark.createDataFrame(
        [(i, f"doc {i} alpha beta gamma") for i in range(6)],
        "doc_id long, text string",
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = SearchIndex.build(cat, docs.filter(F.col("doc_id") < 4),
                           "doc_id", "text", "oldgen")
    # strip the store back to the pre-gen layout: no gen column, no
    # doclen side table
    legacy = cat.read_raw(ix.table_name).drop("gen")
    cat.save_bucketed(_Table(legacy, "token", "oldgen_postings"),
                      num_buckets=ix.num_buckets)
    shutil.rmtree(f"{cat.root}/{ix.doclen_table_name}", ignore_errors=True)
    ix2 = SearchIndex.open(cat, "oldgen")
    assert "gen" not in cat.read_raw(ix2.table_name).columns

    ix2.update(docs.filter(F.col("doc_id") == 4))
    assert "gen" in cat.read_raw(ix2.table_name).columns  # migrated
    ix2.upsert(docs.filter(F.col("doc_id").isin(0, 5)))
    ix2.delete(spark.createDataFrame([(1,)], "doc_id long"))
    ix2.compact()
    live = sorted(
        r["doc_id"]
        for r in ix2.postings.select("doc_id").distinct().collect()
    )
    assert live == [0, 2, 3, 4, 5]
    ix2.repair_stats()
    assert ix2.n_docs == 5


def test_maybe_compact_schedules_rollup_store(spark, sf_dir, tmp_path):
    """The self-scheduling maintenance gauge works on the rollup store
    now that it carries generation tombstones: replaced batches push
    tombstoned_ids past the threshold -> compact runs, keeps the bucket
    count, clears the debt; a fresh store doesn't trigger."""
    from hindex_spark.operators.artifact import maybe_compact
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(3000)
    cat = Catalog(spark, str(tmp_path / "wh"))
    r = RollupStore.build(cat, events, "ts", ["event_type"], "value",
                          HOUR_US, "mc", num_buckets=8)
    assert maybe_compact(r, max_tombstoned=2) is False
    g1 = r.update(events.limit(500))
    g2 = r.replace_batch(g1, events.limit(500))
    r.replace_batch(g2, events.limit(500))
    before = sorted(map(tuple, r.read().collect()))
    assert maybe_compact(r, max_tombstoned=1) is True
    assert r.num_buckets == 8  # maintenance never resets the layout
    assert sorted(map(tuple, r.read().collect())) == before
    assert maybe_compact(r, max_tombstoned=1) is False  # debt cleared


def _store_cases():
    """(build, mutate, probe) per persisted store: ``mutate`` commits
    new metadata, ``probe`` reads the field it would change."""
    import datetime

    from hindex_spark.operators.ann_index import AnnIndex
    from hindex_spark.operators.importance import ImportanceModel
    from hindex_spark.operators.joinview import JoinView
    from hindex_spark.operators.profile import ProfileStore
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    def docs(spark, lo, hi):
        return spark.createDataFrame(
            [(i, f"alpha beta w{i} gamma") for i in range(lo, hi)],
            "doc_id long, text string",
        )

    def vecs(spark):
        return spark.createDataFrame(
            [(i, [float(i % 3), 1.0, float(i)]) for i in range(12)],
            "vec_id long, embedding array<float>",
        )

    def events(spark, n):
        t0 = datetime.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(t0 + datetime.timedelta(minutes=17 * i), f"e{i % 2}", float(i))
             for i in range(n)],
            "ts timestamp, event_type string, value double",
        )

    def ids(spark):
        return spark.createDataFrame([(1,), (2,)], "id long")

    return {
        "search": (
            lambda spark, cat: SearchIndex.build(
                cat, docs(spark, 0, 10), "doc_id", "text", "m"),
            lambda spark, s: s.delete(ids(spark).withColumnRenamed("id", "doc_id")),
            lambda cat: SearchIndex.open(cat, "m").cur_gen,
        ),
        "dedup": (
            lambda spark, cat: DedupState.build(
                cat, docs(spark, 0, 10), "doc_id", "text", "m"),
            lambda spark, s: s.delete(ids(spark).withColumnRenamed("id", "doc_id")),
            lambda cat: DedupState.open(cat, "m").cur_gen,
        ),
        "ann": (
            lambda spark, cat: AnnIndex.build(
                cat, vecs(spark), "vec_id", "embedding", "m",
                n_clusters=2, iters=1),
            lambda spark, s: s.delete(ids(spark).withColumnRenamed("id", "vec_id")),
            lambda cat: AnnIndex.open(cat, "m").cur_gen,
        ),
        "rollup": (
            lambda spark, cat: RollupStore.build(
                cat, events(spark, 8), "ts", ["event_type"], "value",
                HOUR_US, "m", num_buckets=2),
            lambda spark, s: s.update(events(spark, 4)),
            lambda cat: RollupStore.open(cat, "m").cur_gen,
        ),
        "profile": (
            lambda spark, cat: ProfileStore.build(
                cat, events(spark, 8), ["event_type", "value"], "m"),
            lambda spark, s: s.update(events(spark, 4)),
            lambda cat: ProfileStore.open(cat, "m").cur_gen,
        ),
        "joinview": (
            lambda spark, cat: JoinView.build(
                cat, spark.createDataFrame([(1, "a")], "k long, l string"),
                spark.createDataFrame([(1, "x")], "k long, r string"),
                "k", "m", num_buckets=2),
            lambda spark, s: s.update_left(
                spark.createDataFrame([(2, "b")], "k long, l string")),
            lambda cat: JoinView.open(cat, "m").cur_lgen,
        ),
        "importance": (
            lambda spark, cat: ImportanceModel.fit(
                cat, "m", docs(spark, 0, 5), docs(spark, 0, 10), "text",
                n_buckets=64),
            lambda spark, s: ImportanceModel.fit(
                s.catalog, "m", docs(spark, 0, 5), docs(spark, 0, 10),
                "text", n_buckets=128),
            lambda cat: ImportanceModel.open(cat, "m").n_buckets,
        ),
    }


@pytest.mark.parametrize("store", sorted(_store_cases()))
def test_failed_meta_write_keeps_old_meta(spark, tmp_path, monkeypatch,
                                          store):
    """A metadata commit that dies halfway (a partial document written,
    then an error) must leave the previous metadata loadable: the store
    reopens at its pre-mutation state instead of a truncated file."""
    import json

    build, mutate, probe = _store_cases()[store]
    cat = Catalog(spark, str(tmp_path / "wh"))
    s = build(spark, cat)
    before = probe(cat)
    real_dumps = json.dumps

    def torn_dump(obj, fp, *args, **kwargs):
        fp.write(real_dumps(obj)[:7])
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            mutate(spark, s)
    assert probe(cat) == before
