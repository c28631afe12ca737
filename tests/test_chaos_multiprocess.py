"""Multi-process chaos tier (hbase-it / IntegrationTestIngest spirit):
two REAL OS processes — each with its own JVM — race the catalog save
path and the changelog emit/compaction path. Unlike the stubbed-flock
fencing tests (test_catalog.py), nothing is simulated here: the flock,
the lease file, and the version-pointer commits are exercised across
genuine process boundaries.

Invariants asserted (TestAcidGuaranteesForIndex spirit):
  * concurrent saves serialize — the final descriptor version counts
    every commit, the loaded table is EXACTLY one writer's table (never
    a mix), and data/index stay consistent;
  * changelog compaction racing a live emitter loses no records and
    keeps seq ordering replayable.
"""

import glob
import json
import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from hindex_spark.catalog import Catalog
from hindex_spark.index.spec import IndexSpecification
from hindex_spark.table import Table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SAVE_WORKER = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from hindex_spark.catalog import Catalog, SaveContentionError
from hindex_spark.index.spec import IndexSpecification
from hindex_spark.table import Table

wh, sync = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .appName("chaos_worker").getOrCreate())
cat = Catalog(spark, wh)
open(os.path.join(sync, "ready"), "w").close()
while not os.path.exists(os.path.join(sync, "go")):
    time.sleep(0.05)
outcomes = []
for i in range(3):
    rows = [(k, "B%d" % i) for k in range(5)]
    t = Table(spark.createDataFrame(rows, "k long, v string"), "k", "chaos")
    t.create_index(IndexSpecification("ix").add_column("v"))
    try:
        cat.save(t, num_partitions=2)
        outcomes.append("commit")
    except SaveContentionError:
        outcomes.append("contention")
with open(os.path.join(sync, "outcomes.json"), "w") as f:
    json.dump(outcomes, f)
spark.stop()
"""

COMPACT_WORKER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from hindex_spark.streaming.ingest import compact_changelog

log, sync = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .appName("chaos_compactor").getOrCreate())
open(os.path.join(sync, "ready"), "w").close()
while not os.path.exists(os.path.join(sync, "go")):
    time.sleep(0.05)
for _ in range(3):
    compact_changelog(spark, log, num_files=1)
    time.sleep(0.2)
open(os.path.join(sync, "done"), "w").close()
spark.stop()
"""


def _spawn(script: str, *args: str, sync: str) -> subprocess.Popen:
    path = os.path.join(sync, "worker.py")
    with open(path, "w") as f:
        f.write(script.format(repo=REPO))
    env = dict(os.environ, PYTHONPATH=REPO)
    return subprocess.Popen(
        [sys.executable, path, *args, sync],
        env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )


def _wait_file(path: str, timeout: float = 120.0) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > deadline:
            raise TimeoutError(f"worker never produced {path}")
        time.sleep(0.1)


def test_two_process_save_race_serializes_and_commits_atomically(spark, tmp_path):
    wh = str(tmp_path / "wh")
    sync = str(tmp_path / "sync")
    os.makedirs(sync)
    cat = Catalog(spark, wh)
    t0 = Table(
        spark.createDataFrame([(k, "init") for k in range(5)], "k long, v string"),
        "k", "chaos",
    )
    t0.create_index(IndexSpecification("ix").add_column("v"))
    cat.save(t0, num_partitions=2)  # v0

    proc = _spawn(SAVE_WORKER, wh, sync=sync)
    try:
        _wait_file(os.path.join(sync, "ready"))
        open(os.path.join(sync, "go"), "w").close()
        my_outcomes = []
        for i in range(3):
            rows = [(k, f"A{i}") for k in range(5)]
            t = Table(spark.createDataFrame(rows, "k long, v string"), "k", "chaos")
            t.create_index(IndexSpecification("ix").add_column("v"))
            cat.save(t, num_partitions=2)
            my_outcomes.append("commit")
        assert proc.wait(timeout=180) == 0
    finally:
        if proc.poll() is None:
            proc.kill()

    with open(os.path.join(sync, "outcomes.json")) as f:
        worker_outcomes = json.load(f)
    commits = my_outcomes.count("commit") + worker_outcomes.count("commit")
    # same-host flock serializes: every save eventually commits
    assert worker_outcomes.count("contention") == 0

    d = str(tmp_path / "wh" / "chaos")
    with open(os.path.join(d, "_descriptor.json")) as f:
        version = json.load(f)["version"]
    assert version == commits  # v0 + one increment per committed save

    got = cat.load("chaos")
    tags = {r["v"] for r in got.df.collect()}
    assert len(tags) == 1 and next(iter(tags)) in {"A0", "A1", "A2", "B0", "B1", "B2"}
    # index consistent with data (the same-commit invariant)
    via_idx = {(r["v"], r["k"]) for r in got.index_tables["ix"].select("v", "k").collect()}
    assert via_idx == {(r["v"], r["k"]) for r in got.df.select("v", "k").collect()}
    # no lease or staging residue
    assert not os.path.exists(os.path.join(d, "_lease.json"))
    assert glob.glob(f"{d}/**/*.staging*", recursive=True) == []


def test_two_process_changelog_compaction_race_loses_nothing(spark, tmp_path):
    from hindex_spark.streaming.ingest import ChangelogEmitter

    log = str(tmp_path / "log")
    sync = str(tmp_path / "sync")
    os.makedirs(sync)

    base = spark.createDataFrame([(1, "x")], "k long, v string")
    em = ChangelogEmitter(log)
    # seed a couple of batches so the compactor has work immediately
    for i in range(2):
        rows = spark.createDataFrame([(10 + i, f"v{i}")], "k long, v string")
        em.emit("put", rows, base, "k")

    proc = _spawn(COMPACT_WORKER, log, sync=sync)
    emitted = 2
    try:
        _wait_file(os.path.join(sync, "ready"))
        open(os.path.join(sync, "go"), "w").close()
        for i in range(2, 8):
            rows = spark.createDataFrame([(10 + i, f"v{i}")], "k long, v string")
            em.emit("put", rows, base, "k")
            emitted += 1
            time.sleep(0.1)
        assert proc.wait(timeout=180) == 0
    finally:
        if proc.poll() is None:
            proc.kill()

    final = spark.read.parquet(log)
    # every emitted record survived the concurrent compactions, with
    # distinct replayable seqs
    assert final.count() == emitted
    seqs = [r["seq"] for r in final.select("seq").collect()]
    assert len(set(seqs)) == emitted
    keys = {r["k"] for r in final.collect()}
    assert keys == {10 + i for i in range(8)}


ARTIFACT_WORKER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from hindex_spark.catalog import Catalog
from hindex_spark.operators.search import SearchIndex

wh, sync = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .appName("chaos_artifact").getOrCreate())
cat = Catalog(spark, wh)
ix = SearchIndex.open(cat, "chaos")
open(os.path.join(sync, "ready"), "w").close()
while not os.path.exists(os.path.join(sync, "go")):
    time.sleep(0.05)
docs = spark.createDataFrame(
    [(1000 + i, "worker tokens alpha beta %d" % i) for i in range(20)],
    "doc_id long, text string",
)
ix.update(docs)
# replace half of its OWN batch: exercises the tombstone path too
ix.upsert(spark.createDataFrame(
    [(1000 + i, "worker replaced gamma %d" % i) for i in range(10)],
    "doc_id long, text string",
))
open(os.path.join(sync, "done"), "w").close()
spark.stop()
"""


def test_two_process_artifact_maintenance_serializes(spark, tmp_path):
    """Two REAL processes mutate the same SearchIndex concurrently
    (update + upsert each) through the writer lease. Nothing may be
    lost or doubled: the final live postings hold exactly one row set
    per doc, and the incrementally-maintained corpus stats equal a
    from-scratch recompute (a lost meta update would diverge)."""
    from hindex_spark.operators.search import SearchIndex

    wh = str(tmp_path / "wh")
    sync = str(tmp_path / "sync")
    os.makedirs(sync)
    cat = Catalog(spark, wh)
    seed = spark.createDataFrame(
        [(i, f"seed common words {i}") for i in range(30)],
        "doc_id long, text string",
    )
    ix = SearchIndex.build(cat, seed, "doc_id", "text", "chaos")

    proc = _spawn(ARTIFACT_WORKER, wh, sync=sync)
    try:
        _wait_file(os.path.join(sync, "ready"))
        open(os.path.join(sync, "go"), "w").close()
        # race it from this process: disjoint id range
        ix.update(spark.createDataFrame(
            [(2000 + i, f"main tokens delta {i}") for i in range(20)],
            "doc_id long, text string",
        ))
        ix.upsert(spark.createDataFrame(
            [(2000 + i, f"main replaced epsilon {i}") for i in range(10)],
            "doc_id long, text string",
        ))
        _wait_file(os.path.join(sync, "done"))
        assert proc.wait(timeout=180) == 0
    finally:
        if proc.poll() is None:
            proc.kill()

    ix2 = SearchIndex.open(cat, "chaos")
    live_ids = {
        r["doc_id"]
        for r in ix2.postings.select("doc_id").distinct().collect()
    }
    assert live_ids == set(range(30)) | set(range(1000, 1020)) | set(
        range(2000, 2020)
    )
    # replaced docs: exactly one live generation each
    per_doc = (
        ix2.postings.filter(F.col("doc_id").isin([1000, 1005, 2000, 2005]))
        .select("doc_id", "gen").distinct()
        .groupBy("doc_id").count().collect()
    )
    assert all(r["count"] == 1 for r in per_doc)
    # stats survived the cross-process interleaving exactly
    n, s = ix2.n_docs, ix2.sum_dl
    ix2.repair_stats()
    assert (n, s) == (ix2.n_docs, ix2.sum_dl)
    # no lease residue
    assert not os.path.exists(
        os.path.join(wh, ix2.table_name, "_lease.json")
    )


ROLLUP_WORKER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from hindex_spark.operators.rollup import RollupStore

wh, sync = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .appName("chaos_rollup_worker").getOrCreate())
r = RollupStore.open(__import__("hindex_spark.catalog",
                                fromlist=["Catalog"]).Catalog(spark, wh),
                     "chaosru")
open(os.path.join(sync, "ready"), "w").close()
while not os.path.exists(os.path.join(sync, "go")):
    time.sleep(0.05)
# this process appends a WRONG batch for hours [100, 200) then corrects
# it — generation numbers must interleave with the main process's
# mutations without collision or lost updates
batch = spark.range(100, 200).select(
    F.to_timestamp(F.lit("2024-01-02 00:00:00")).alias("ts"),
    F.lit("w").alias("event_type"),
    (F.col("id") * 999).cast("double").alias("value"),
)
bad = r.update(batch.withColumn("value", F.col("value") * 7))
r.replace_batch(bad, batch)
open(os.path.join(sync, "done"), "w").close()
spark.stop()
"""


def test_two_process_rollup_corrections_serialize(spark, tmp_path):
    """Two real processes race update/replace_batch on one rollup
    store: generation numbers must never collide (a collision would let
    one process's tombstone kill the other's rows), and the merged read
    must equal a from-scratch aggregation of exactly the surviving
    batches."""
    from hindex_spark.operators.rollup import HOUR_US, RollupStore

    wh = str(tmp_path / "wh")
    sync = str(tmp_path / "sync")
    os.makedirs(sync)
    cat = Catalog(spark, wh)

    def mk(tag, n0, n1, value_mult=1):
        return (
            spark.range(n0, n1).select(
                F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
                F.lit(tag).alias("event_type"),
                (F.col("id") * value_mult).cast("double").alias("value"),
            )
        )

    r = RollupStore.build(cat, mk("m", 0, 50), "ts", ["event_type"],
                          "value", HOUR_US, "chaosru")

    proc = _spawn(ROLLUP_WORKER, wh, sync=sync)
    try:
        _wait_file(os.path.join(sync, "ready"))
        open(os.path.join(sync, "go"), "w").close()
        # race from this process: a wrong batch + its correction
        bad = r.update(mk("m", 50, 120, value_mult=13))
        r.replace_batch(bad, mk("m", 50, 120))
        _wait_file(os.path.join(sync, "done"))
        assert proc.wait(timeout=180) == 0
    finally:
        if proc.poll() is None:
            proc.kill()

    r2 = RollupStore.open(cat, "chaosru")
    truth_events = mk("m", 0, 120).unionByName(
        spark.range(100, 200).select(
            F.to_timestamp(F.lit("2024-01-02 00:00:00")).alias("ts"),
            F.lit("w").alias("event_type"),
            (F.col("id") * 999).cast("double").alias("value"),
        )
    )
    truth = RollupStore.build(
        Catalog(spark, str(tmp_path / "wh2")), truth_events, "ts",
        ["event_type"], "value", HOUR_US, "truth",
    )
    assert sorted(map(tuple, r2.read().collect())) == sorted(
        map(tuple, truth.read().collect())
    )
    # every batch got a distinct generation (no cross-process collision)
    gens = [
        (row["gen"], row["cnt"])
        for row in r2.live_partials.groupBy("gen")
        .agg(F.sum("cnt").alias("cnt")).collect()
    ]
    assert len({g for g, _ in gens}) == len(gens) and len(gens) == 3
    # the write-maintained bucket histogram survived the race: each
    # verb reloads meta under the lock before applying its delta, so
    # neither process's histogram update may be lost — the combined
    # meta histogram must equal the live per-bucket counts
    live_counts = {
        str(row["bucket_us"]): row["n"]
        for row in r2.live_partials.groupBy("bucket_us")
        .agg(F.count("*").alias("n")).collect()
    }
    combined: dict = {}
    for h in r2.gen_hist.values():
        for b, n in h.items():
            combined[b] = combined.get(b, 0) + n
    assert combined == live_counts
    # and the corrected-generation chain merged from both processes:
    # both bad batches are recorded as superseded
    assert sorted(int(v) for v in r2.corrected.values()) == sorted(
        g for g, _ in gens if g > 0
    )


PROFILE_WORKER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from hindex_spark.operators.profile import ProfileStore

wh, sync = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .appName("chaos_profile_worker").getOrCreate())
ps = ProfileStore.open(__import__("hindex_spark.catalog",
                                  fromlist=["Catalog"]).Catalog(spark, wh),
                       "chaosps")
open(os.path.join(sync, "ready"), "w").close()
while not os.path.exists(os.path.join(sync, "go")):
    time.sleep(0.05)
# this process appends a WRONG batch for ids [100, 200) then corrects
# it — generations must interleave with the main process's without
# collision (a collision would let one tombstone kill the other's rows)
batch = spark.range(100, 200).select(
    F.col("id"),
    (F.col("id") * 2.5).alias("score"),
    F.concat(F.lit("w"), F.col("id")).alias("tag"),
)
bad = ps.update(batch.withColumn("score", F.col("score") + 1e9))
ps.replace_batch(bad, batch)
open(os.path.join(sync, "done"), "w").close()
spark.stop()
"""


def test_two_process_profile_store_corrections_serialize(spark, tmp_path):
    """Two real processes race update/replace_batch on one ProfileStore:
    generations must never collide and the merged read must equal the
    one-shot profile of exactly the surviving batches."""
    from hindex_spark.operators.profile import ProfileStore, profile

    wh = str(tmp_path / "wh")
    sync = str(tmp_path / "sync")
    os.makedirs(sync)
    cat = Catalog(spark, wh)

    def mk(n0, n1, shift=0.0):
        return spark.range(n0, n1).select(
            F.col("id"),
            (F.col("id") * 2.5 + shift).alias("score"),
            F.concat(F.lit("w"), F.col("id")).alias("tag"),
        )

    cols = ["id", "score", "tag"]
    ps = ProfileStore.build(cat, mk(0, 50), cols, "chaosps")

    proc = _spawn(PROFILE_WORKER, wh, sync=sync)
    try:
        _wait_file(os.path.join(sync, "ready"))
        open(os.path.join(sync, "go"), "w").close()
        bad = ps.update(mk(50, 100, shift=1e9))
        ps.replace_batch(bad, mk(50, 100))
        _wait_file(os.path.join(sync, "done"))
        assert proc.wait(timeout=180) == 0
    finally:
        if proc.poll() is None:
            proc.kill()

    ps2 = ProfileStore.open(cat, "chaosps")
    got = sorted(map(tuple, ps2.read().collect()))
    want = sorted(map(tuple, profile(mk(0, 200), cols).collect()))
    assert got == want
    gens = [row["gen"] for row in
            ps2.live_partials().select("gen").distinct().collect()]
    assert len(gens) == len(set(gens)) == 3  # build + 2 corrections


JOINVIEW_WORKER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from hindex_spark.operators.joinview import JoinView

wh, sync = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .appName("chaos_joinview_worker").getOrCreate())
jv = JoinView.open(__import__("hindex_spark.catalog",
                              fromlist=["Catalog"]).Catalog(spark, wh),
                   "chaosjv")
open(os.path.join(sync, "ready"), "w").close()
while not os.path.exists(os.path.join(sync, "go")):
    time.sleep(0.05)
# this process grows the RIGHT side with a wrong batch and corrects it
# while the main process grows the LEFT side — the deltas each join
# against the live other side under the lease, so neither may observe
# (or miss) a half-applied update from the other
batch = spark.range(0, 40).select(
    (F.col("id") % 20).alias("k"),
    (F.col("id") + 1000).alias("rv"),
)
bad = jv.update_right(batch.withColumn("rv", F.col("rv") * 7))
jv.replace_right_batch(bad, batch)
open(os.path.join(sync, "done"), "w").close()
spark.stop()
"""


def test_two_process_joinview_updates_serialize(spark, tmp_path):
    """Two real processes race delta maintenance on one join view —
    one grows the left side, the other grows (then corrects) the right
    side. The deltas join against the live other side under the writer
    lease, so the final view must equal the plain join of exactly the
    surviving batches, with no generation collision on either side."""
    from hindex_spark.operators.joinview import JoinView

    wh = str(tmp_path / "wh")
    sync = str(tmp_path / "sync")
    os.makedirs(sync)
    cat = Catalog(spark, wh)

    L0 = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("lv")
    )
    R0 = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") + 500).alias("rv")
    )
    jv = JoinView.build(cat, L0, R0, "k", "chaosjv")

    proc = _spawn(JOINVIEW_WORKER, wh, sync=sync)
    try:
        _wait_file(os.path.join(sync, "ready"))
        open(os.path.join(sync, "go"), "w").close()
        # race from this process: a wrong left batch + its correction
        L1 = spark.range(20, 30).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("lv")
        )
        bad = jv.update_left(L1.withColumn("lv", F.col("lv") + 1))
        jv.replace_left_batch(bad, L1)
        _wait_file(os.path.join(sync, "done"))
        assert proc.wait(timeout=180) == 0
    finally:
        if proc.poll() is None:
            proc.kill()

    jv2 = JoinView.open(cat, "chaosjv")
    R1 = spark.range(0, 40).select(
        (F.col("id") % 20).alias("k"), (F.col("id") + 1000).alias("rv")
    )
    want = sorted(
        tuple(r)
        for r in L0.unionByName(
            spark.range(20, 30).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("lv"))
        ).join(R0.unionByName(R1), "k").collect()
    )
    got = sorted(tuple(r) for r in jv2.read().collect())
    assert got == want
    # no generation collisions: each side's live gens are distinct and
    # the correction chains from both processes were recorded
    assert jv2.cur_lgen == 2 and jv2.cur_rgen == 2
    assert jv2.corrected_l == {"1": 2} and jv2.corrected_r == {"1": 2}
