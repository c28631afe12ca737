"""Tests for the persisted IVF artifact (operators/ann_index.py):
full-probe brute-force identity, frozen-centroid append parity, bucket
pruning in the probe plan, recall at nprobe < n_clusters, compaction
layout, and session-restart reopen."""

import os
import re

from pyspark.sql import functions as F

from hindex_spark.catalog import Catalog
from hindex_spark.operators import similarity as sim
from hindex_spark.operators.ann_index import AnnIndex, assign_to_centroids


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def _rows(df):
    return [tuple(r) for r in df.orderBy("q_id", "rank").collect()]


def test_ann_index_full_probe_equals_brute_force(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    AnnIndex.build(cat, emb, "vec_id", "embedding", "v", n_clusters=8, iters=2)
    ix = AnnIndex.open(cat, "v")
    q = _queries(emb)
    assert _rows(ix.topk(q, 10, nprobe=8)) == _rows(
        sim.brute_force_topk(emb, q, 10)
    )


def test_ann_index_update_matches_build_assignment(spark, sf_dir, tmp_path):
    """Appending a batch with update() (frozen centroids) must place
    each vector in the SAME cluster a build-time final assignment
    would — they share the assignment expression."""
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    half = F.pmod(F.col("vec_id"), F.lit(2)) == 0
    ix = AnnIndex.build(
        cat, emb.filter(half), "vec_id", "embedding", "v", n_clusters=8, iters=2
    )
    ix.update(emb.filter(~half))
    stored = {
        r["vec_id"]: r["cluster"]
        for r in ix.vectors.filter(~half).select("vec_id", "cluster").collect()
    }
    expected = {
        r["vec_id"]: r["cluster"]
        for r in assign_to_centroids(
            emb.filter(~half), ix.centroids, "vec_id", "embedding"
        ).collect()
    }
    assert stored == expected and len(stored) > 0


def test_ann_index_probe_prunes_buckets(spark, sf_dir, tmp_path):
    """nprobe < n_clusters must leave buckets UNREAD: the probed scan's
    SelectedBucketsCount is below the total, and the probed cluster set
    is bounded by n_clusters regardless of query count."""
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2)
    q = _queries(emb)
    clusters = ix.probe_clusters(q, nprobe=1)
    assert 0 < len(clusters) <= 8
    plan = (
        ix.topk(q, 10, nprobe=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"no bucket pruning in plan:\n{plan}"
    assert int(m.group(1)) <= len(clusters) < int(m.group(2))


def test_ann_index_recall_at_low_nprobe(spark, sf_dir, tmp_path):
    """Pruned probe quality: recall@10 vs brute force at nprobe=2 of 8
    stays above a floor (clustered synthetic embeddings — the probe
    should find most true neighbors in the query's own clusters)."""
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2)
    q = _queries(emb)
    truth = {
        (r["q_id"], r["vec_id"])
        for r in sim.brute_force_topk(emb, q, 10).collect()
    }
    got = {
        (r["q_id"], r["vec_id"])
        for r in ix.topk(q, 10, nprobe=2).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, f"recall@10 {recall:.2f} too low"


def test_ann_index_compact_one_file_per_bucket(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2)
    before = ix.vectors.count()
    ix.update(
        emb.limit(20).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
        )
    )
    data_dir = os.path.join(cat.root, ix.table_name, "data")
    ix.compact()
    files = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    assert len(files) <= ix.num_buckets
    assert ix.vectors.count() == before + 20


def test_ann_index_survives_session_restart(spark, sf_dir, tmp_path):
    """open() on a session with no registration: the bucketed table
    self-repairs from files + meta (the artifact-store contract)."""
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2)
    spark.sql(f"DROP TABLE IF EXISTS `{ix.sql_name}`")
    ix2 = AnnIndex.open(cat, "v")
    q = _queries(emb)
    assert _rows(ix2.topk(q, 10, nprobe=8)) == _rows(
        sim.brute_force_topk(emb, q, 10)
    )


def test_ann_index_upsert_replaces_even_across_clusters(spark, sf_dir, tmp_path):
    """A re-embedded vector usually moves clusters; the tombstone cut
    must kill the old row in its OLD bucket. Full probe after upserting
    the true vectors over a mangled build equals brute force."""
    emb = _emb(spark, sf_dir)
    stale = F.col("vec_id") < 50
    mangled = emb.withColumn(
        "embedding",
        F.when(stale, F.reverse(F.col("embedding")))
        .otherwise(F.col("embedding")),
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, mangled, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2)
    ix.upsert(emb.filter(stale))
    q = _queries(emb)
    assert _rows(ix.topk(q, 10, nprobe=8)) == _rows(
        sim.brute_force_topk(emb, q, 10)
    )
    # exactly one live row per upserted id
    live = ix.vectors.filter(stale).groupBy("vec_id").count()
    assert live.filter(F.col("count") != 1).count() == 0


def test_ann_index_delete_then_compact_purges(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2)
    n = ix.vectors.count()
    ix.delete(emb.filter(F.col("vec_id") < 10))
    assert ix.vectors.count() == n - 10
    ix.compact()
    assert not os.path.isdir(ix._tombstone_path())
    assert ix._raw().count() == n - 10
    # gen survives the rewrite so stale tombstones stay no-ops
    assert "gen" in ix._raw().columns


def test_ann_ivfpq_full_config_equals_brute_force(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2, pq_m=4, pq_k=16)
    q = _queries(emb)
    got = _rows(ix.topk(q, 10, nprobe=8, method="adc", shortlist=10**6))
    assert got == _rows(sim.brute_force_topk(emb, q, 10))


def test_ann_ivfpq_adc_scan_never_reads_vectors(spark, sf_dir, tmp_path):
    """The point of storing codes as columns of the SAME bucketed
    table: parquet column pruning keeps the raw embedding column off
    disk in the ADC scan (it appears only in the shortlist re-rank
    scan)."""
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2, pq_m=4, pq_k=16)
    q = _queries(emb)
    plan = (
        ix.topk(q, 10, nprobe=2, method="adc", shortlist=50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scans = re.findall(r"ReadSchema: struct<(.*)", plan)
    adc = [s for s in scans if "codes" in s]
    assert adc, f"no codes scan in plan:\n{plan[:2000]}"
    assert all("embedding" not in s for s in adc), scans
    # bucket pruning composes with the column pruning
    assert re.search(r"SelectedBucketsCount: \d+ out of \d+", plan)


def test_ann_ivfpq_recall_and_upsert(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2, pq_m=4, pq_k=16)
    q = _queries(emb)
    truth = {
        (r["q_id"], r["vec_id"])
        for r in sim.brute_force_topk(emb, q, 10).collect()
    }
    got = {
        (r["q_id"], r["vec_id"])
        for r in ix.topk(q, 10, nprobe=2, method="adc", shortlist=50).collect()
    }
    assert len(got & truth) / len(truth) >= 0.5
    # codebooks persist; upsert re-encodes with the frozen quantizer
    ix2 = AnnIndex.open(cat, "v")
    assert ix2.pq_codebooks == ix.pq_codebooks
    ix2.upsert(emb.filter(F.col("vec_id") < 3))
    got2 = _rows(ix2.topk(q, 10, nprobe=8, method="adc", shortlist=10**6))
    assert got2 == _rows(sim.brute_force_topk(emb, q, 10))


def test_ann_topk_adc_requires_codebook(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2)
    q = _queries(emb)
    try:
        ix.topk(q, 10, method="adc")
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "pq_m" in str(e)


def test_ann_index_maintained_from_stream(spark, sf_dir, tmp_path):
    """The streaming-ingest shape: readStream micro-batches drain
    through foreachBatch -> AnnIndex.update (frozen centroids); after
    the stream, a full probe equals brute force over everything the
    index saw — nothing dropped or duplicated across the session-clone
    INSERT path."""
    import shutil

    emb = _emb(spark, sf_dir).limit(200)
    seed = emb.filter(F.col("vec_id") < 100)
    rest = emb.filter(F.col("vec_id") >= 100)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, seed, "vec_id", "embedding", "stream",
                        n_clusters=8, iters=2)
    src = str(tmp_path / "src")
    rest.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _e: ix.update(batch) if batch.count() else None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    queries = _queries(emb)
    assert _rows(ix.topk(queries, 10, nprobe=8)) == _rows(
        sim.brute_force_topk(emb, queries, 10)
    )
    shutil.rmtree(src, ignore_errors=True)


def test_ann_index_retrain_in_place(spark, sf_dir, tmp_path):
    """Drift repair: after appends and a delete, retrain() rebuilds
    centroids/assignments from the LIVE vectors under the same name —
    tombstones purge for free, full probe still equals brute force over
    the surviving set, and the PQ codebook is retrained when present."""
    emb = _emb(spark, sf_dir)
    seed = emb.filter(F.col("vec_id") < 100)
    rest = emb.filter(F.col("vec_id") >= 100)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, seed, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2, pq_m=4, pq_k=16)
    ix.update(rest)
    ix.delete(emb.filter(F.col("vec_id") < 10))
    old_cents = [tuple(r) for r in ix.centroids.orderBy("cluster").collect()]
    ix2 = ix.retrain(iters=2)
    live = emb.filter(F.col("vec_id") >= 10)
    q = _queries(emb)
    assert _rows(ix2.topk(q, 10, nprobe=8)) == _rows(
        sim.brute_force_topk(live, q, 10)
    )
    # fresh incarnation: no tombstones, gen reset, retrained centroids
    assert not os.path.isdir(ix2._tombstone_path())
    assert ix2.cur_gen == 0 and ix2.pq_codebooks is not None
    new_cents = [tuple(r) for r in ix2.centroids.orderBy("cluster").collect()]
    assert new_cents != old_cents
    assert ix2.vectors.count() == live.count()
    # ADC path still exact at full config after retrain
    assert _rows(
        ix2.topk(q, 10, nprobe=8, method="adc", shortlist=10**6)
    ) == _rows(sim.brute_force_topk(live, q, 10))


def test_ann_filtered_search_prefilter_semantics(spark, sf_dir, tmp_path):
    """filter_ids restricts BEFORE scoring: exact parity with brute
    force over the allowed subset, full k delivered even when the
    predicate is selective, and the ADC path honors the same filter."""
    emb = _emb(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "v",
                        n_clusters=8, iters=2, pq_m=4, pq_k=16)
    q = _queries(emb)
    allowed = emb.filter(F.col("label") == 3).select("vec_id")
    want = _rows(sim.brute_force_topk(
        emb.join(allowed, "vec_id", "left_semi"), q, 10
    ))
    got = _rows(ix.topk(q, 10, nprobe=8, filter_ids=allowed))
    assert got == want and len(got) > 0
    got_adc = _rows(ix.topk(q, 10, nprobe=8, method="adc",
                            shortlist=10**6, filter_ids=allowed))
    assert got_adc == want


def test_ann_ivfpq_residual_mode_roundtrip_and_recall_floor(
    spark, sf_dir, tmp_path
):
    """IVFADC residual encoding: the mode persists through the meta,
    both encodings stay exact at the full configuration (covered by the
    gates), and tight-shortlist recall clears a floor. Strict
    residual > raw dominance is data-dependent at this tiny scale
    (52% vs 54% here, 58% vs 44% at sf0.01, both 1.0 at 1M/2000 —
    see COVERAGE's crossover table), so the test pins floors, not
    ordering."""
    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ixr = AnnIndex.build(cat, emb, "vec_id", "embedding", "vr",
                         n_clusters=8, iters=2, pq_m=4, pq_k=16,
                         pq_residual=True)
    assert ixr.pq_residual is True
    ixw = AnnIndex.build(cat, emb, "vec_id", "embedding", "vw",
                         n_clusters=8, iters=2, pq_m=4, pq_k=16,
                         pq_residual=False)
    truth = {
        (r["q_id"], r["vec_id"])
        for r in sim.brute_force_topk(emb, q, 10).collect()
    }

    def recall(ix, sl):
        got = {
            (r["q_id"], r["vec_id"])
            for r in ix.topk(q, 10, nprobe=8, method="adc",
                             shortlist=sl).collect()
        }
        return len(got & truth) / len(truth)

    assert recall(ixr, 20) >= 0.4 and recall(ixw, 20) >= 0.4
    # reopened handle keeps the residual contract
    assert AnnIndex.open(cat, "vr").pq_residual is True
    assert AnnIndex.open(cat, "vw").pq_residual is False


def test_adc_serving_one_bounded_collect_and_batch_independent(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Query-serving contract (both PQ encodings): building a topk plan
    for a query batch performs exactly ONE driver collect — the
    <=n_clusters probe-id list feeding the scan's bucket pruning. LUTs
    and coarse terms are JVM column expressions, so a stream of query
    batches never serializes on per-query driver loops. And a query's
    ADC top-k is BATCH-INDEPENDENT at nprobe < n_clusters: each query
    scores only its own probed clusters (the method=\"exact\"
    semantics), not the union of its batchmates'."""
    emb = _emb(spark, sf_dir)
    DataFrame = type(emb)  # the concrete class (pyspark 4 splits the facade)
    cat = Catalog(spark, str(tmp_path / "wh"))
    for name, residual in (("vraw", False), ("vres", True)):
        ix = AnnIndex.build(cat, emb, "vec_id", "embedding", name,
                            n_clusters=8, iters=2, pq_m=4,
                            pq_residual=residual)
        q_all = _queries(emb)
        q_one = q_all.filter(F.col("q_id") == 0)

        calls = []
        orig = DataFrame.collect
        monkeypatch.setattr(
            DataFrame, "collect",
            lambda self_: calls.append(1) or orig(self_),
        )
        plan = ix.topk(q_all, 5, nprobe=2, method="adc", shortlist=20)
        assert len(calls) == 1  # probe_clusters' bounded id list
        monkeypatch.setattr(DataFrame, "collect", orig)

        solo = _rows(ix.topk(q_one, 5, nprobe=2, method="adc", shortlist=20))
        batched = [
            r for r in _rows(plan) if r[0] == 0
        ]
        assert solo == batched, (name, solo, batched)
