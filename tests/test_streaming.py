"""Structured Streaming ingest tests (foreachBatch mutation fold with
same-batch index maintenance, WALPlayer replay, windowed aggregation)."""

from pyspark.sql import functions as F

from hindex_spark.index.spec import IndexSpecification
from hindex_spark.timeutil import ts_timestamp
from hindex_spark.streaming.ingest import StreamingIngest, windowed_event_counts
from hindex_spark.table import Table


def test_stream_ingest_put_delete_with_index(spark, tmp_path):
    base = spark.createDataFrame(
        [("r1", 10), ("r2", 20), ("r3", 30)], ["rowkey", "v"]
    )
    t = Table(base, "rowkey", "t")
    t.create_index(IndexSpecification("idx_v").add_column("v", "Int"))

    changelog = str(tmp_path / "changelog")
    spark.createDataFrame(
        [("put", "r1", 11), ("put", "r9", 99), ("delete", "r2", None)],
        "op string, rowkey string, v int",
    ).write.parquet(changelog)

    ingest = StreamingIngest(t)
    stream = spark.readStream.schema("op string, rowkey string, v int").parquet(changelog)
    q = ingest.start(stream)
    q.awaitTermination()

    got = {r["rowkey"]: r["v"] for r in ingest.table.df.collect()}
    assert got == {"r1": 11, "r3": 30, "r9": 99}
    # index updated in the same batch
    idx = ingest.table.index_tables["idx_v"]
    assert {(r["v"], r["rowkey"]) for r in idx.collect()} == {(11, "r1"), (30, "r3"), (99, "r9")}
    assert ingest.batches_applied == 1


def test_windowed_event_counts_streaming(spark, sf_dir, tmp_path):
    src = str(tmp_path / "events_dir")  # file stream source needs a dir
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    stream = stream.withColumn("ts", ts_timestamp(stream))
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM win_out")
    # batch equivalent for cross-check
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = ev.withColumn("ts", ts_timestamp(ev))
    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .count()
    )
    # append mode emits only windows below the watermark; at least most
    # windows must have been finalized
    assert out.count() > 0
    assert out.count() <= batch


def test_replay_changelog_put_then_delete_ordered(spark, tmp_path):
    """ADVICE r1 (high): with availableNow the whole log is one batch —
    a key put then later deleted must end deleted, and the seq column
    must be auto-detected and never leak into Table.put."""
    from hindex_spark.streaming.ingest import replay_changelog

    base = spark.createDataFrame([("r1", 10), ("r2", 20)], ["rowkey", "v"])
    t = Table(base, "rowkey", "t")
    log = str(tmp_path / "wal")
    spark.createDataFrame(
        [
            (1, "put", "r9", 99),      # new key...
            (2, "delete", "r9", None),  # ...deleted later -> must not survive
            (3, "delete", "r1", None),  # deleted...
            (4, "put", "r1", 11),       # ...then reinserted -> must survive
        ],
        "seq long, op string, rowkey string, v int",
    ).write.parquet(log)
    ingest = replay_changelog(spark, t, log, "seq long, op string, rowkey string, v int")
    got = {r["rowkey"]: r["v"] for r in ingest.table.df.collect()}
    assert got == {"r1": 11, "r2": 20}
    assert ingest.seq_col == "seq"


def test_replay_changelog_unordered_drops_bookkeeping_cols(spark, tmp_path):
    """Non-seq path must drop non-table columns (op + extras) before
    Table.put instead of crashing on unknown columns."""
    from hindex_spark.streaming.ingest import replay_changelog

    base = spark.createDataFrame([("r1", 10)], ["rowkey", "v"])
    t = Table(base, "rowkey", "t")
    log = str(tmp_path / "wal2")
    spark.createDataFrame(
        [("put", "r2", 22, "node-a")],
        "op string, rowkey string, v int, origin string",
    ).write.parquet(log)
    ingest = replay_changelog(
        spark, t, log, "op string, rowkey string, v int, origin string", seq_col=None
    )
    got = {r["rowkey"]: r["v"] for r in ingest.table.df.collect()}
    assert got == {"r1": 10, "r2": 22}


def test_replay_changelog_bad_seq_col_raises(spark, tmp_path):
    from hindex_spark.streaming.ingest import replay_changelog

    base = spark.createDataFrame([("r1", 10)], ["rowkey", "v"])
    t = Table(base, "rowkey", "t")
    log = str(tmp_path / "wal3")
    spark.createDataFrame(
        [("put", "r2", 22)], "op string, rowkey string, v int"
    ).write.parquet(log)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="seq_col"):
        replay_changelog(
            spark, t, log, "op string, rowkey string, v int", seq_col="nope"
        )


def test_changelog_emit_records_and_replay(spark, tmp_path):
    """Emit side of replication: each mutation appends one seq-stamped
    batch (put = CDC after-image, delete = keys), and a peer replaying
    the log converges to the source state."""
    from hindex_spark.streaming.ingest import replay_changelog
    from hindex_spark.table import Table

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, v string, n long"
    )
    log = str(tmp_path / "log")
    t = Table(base, "k", "t").enable_changelog(log)
    t = t.put(spark.createDataFrame([(2, "B")], "k long, v string"))
    t = t.delete(spark.createDataFrame([(1,)], "k long"))
    t = t.increment(spark.createDataFrame([(3, 5)], "k long, n long"))

    recs = spark.read.parquet(log).orderBy("seq").collect()
    assert [(r["seq"], r["op"], r["k"]) for r in recs] == [
        (1, "put", 2), (2, "delete", 1), (3, "put", 3),
    ]
    # put emits its DELTA (untouched column stays null = keep-old on
    # replay — zero table reads); delete carries nulls; increment emits
    # the computed after-image of the touched row
    assert (recs[0]["v"], recs[0]["n"]) == ("B", None)
    assert recs[1]["v"] is None and recs[1]["n"] is None
    assert (recs[2]["v"], recs[2]["n"]) == ("c", 35)

    peer = Table(base, "k", "peer")
    replayed = replay_changelog(spark, peer, log, t.changelog_schema).table.df
    got = sorted((r["k"], r["v"], r["n"]) for r in replayed.collect())
    assert got == [(2, "B", 20), (3, "c", 35)]
    # mutations on a table WITHOUT a changelog never write one
    assert Table(base, "k", "t2").put(
        spark.createDataFrame([(1, "x")], "k long, v string")
    )._changelog is None


def test_checkpointed_stream_keeps_writing_changelog(spark, tmp_path):
    """A lineage checkpoint inside StreamingIngest must carry the
    table's changelog: with ``checkpoint_every=1`` the first batch
    checkpoints, and the second batch's put still lands in the log."""
    base = spark.createDataFrame([("r1", 1)], "rowkey string, v int")
    log = str(tmp_path / "log")
    t = Table(base, "rowkey", "t").enable_changelog(log)
    ingest = StreamingIngest(t, checkpoint_every=1)
    schema = "op string, rowkey string, v int"
    ingest.apply_batch(spark.createDataFrame([("put", "r2", 2)], schema), 0)
    ingest.apply_batch(spark.createDataFrame([("put", "r3", 3)], schema), 1)

    recs = spark.read.parquet(log).orderBy("seq").collect()
    assert [(r["op"], r["rowkey"], r["v"]) for r in recs] == [
        ("put", "r2", 2), ("put", "r3", 3),
    ]
    assert ingest.table._changelog is not None


def test_changelog_seq_resumes_across_reattach(spark, tmp_path):
    """WAL seq ids are persistent (FSHLog): a fresh emitter attached to
    an existing log resumes from max(seq), so cross-restart replay order
    is preserved. The killer case: put(991) pre-restart, delete(991)
    post-restart — a reset counter would order the delete FIRST and the
    key would wrongly survive replay."""
    from hindex_spark.streaming.ingest import replay_changelog
    from hindex_spark.table import Table

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    log = str(tmp_path / "log")
    t = Table(base, "k", "t").enable_changelog(log)
    t = t.put(spark.createDataFrame([(991, "DOOMED")], "k long, v string"))
    t = t.put(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert t._changelog.seq == 2

    # "restart": new Table over current state, fresh emitter, same path
    t2 = Table(t.df, "k", "t").enable_changelog(log)
    t2 = t2.delete(spark.createDataFrame([(991,)], "k long"))
    assert t2._changelog.seq == 3  # resumed, not reset to 1

    peer = Table(base, "k", "peer")
    replayed = replay_changelog(spark, peer, log, t2.changelog_schema).table.df
    got = sorted((r["k"], r["v"]) for r in replayed.collect())
    assert got == [(1, "a"), (2, "b")]  # 991 stays dead


def test_changelog_resume_on_fresh_path_starts_at_one(spark, tmp_path):
    from hindex_spark.table import Table

    t = Table(
        spark.createDataFrame([(1, "a")], "k long, v string"), "k", "t"
    ).enable_changelog(str(tmp_path / "nolog"))
    t = t.put(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert t._changelog.seq == 1


def test_compact_changelog_preserves_replay_and_shrinks_files(spark, tmp_path):
    import os

    from hindex_spark.streaming.ingest import compact_changelog, replay_changelog
    from hindex_spark.table import Table

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    log = str(tmp_path / "log")
    t = Table(base, "k", "t").enable_changelog(log)
    for i in range(5):
        t = t.put(
            spark.createDataFrame([(10 + i, f"v{i}")], "k long, v string")
        )
    t = t.delete(spark.createDataFrame([(10,)], "k long"))
    before = len([f for f in os.listdir(log) if f.endswith(".parquet")])
    n = compact_changelog(spark, log, num_files=1)
    assert n == 1 and before > 1
    # replay over the compacted log reaches the same state
    peer = Table(base, "k", "peer")
    replayed = replay_changelog(spark, peer, log, t.changelog_schema).table.df
    got = sorted((r["k"], r["v"]) for r in replayed.collect())
    assert got == [(1, "a"), (2, "b"), (11, "v1"), (12, "v2"), (13, "v3"), (14, "v4")]
    # a post-compaction re-attach still resumes seq correctly
    t2 = Table(t.df, "k", "t").enable_changelog(log)
    t2 = t2.put(spark.createDataFrame([(99, "z")], "k long, v string"))
    assert t2._changelog.seq == 7


def test_interrupted_compaction_recovers_original_log(spark, tmp_path):
    """Crash window of compact_changelog (the two-rename swap): a kill
    after rename(log -> log.old) but before rename(log.compacting -> log)
    must not lose the log — every reader/writer entry point recovers the
    original from .old (TestForComplexIssues.testWalReplayShouldNotSkipAnyRecords
    analog: no shipped edit may vanish)."""
    import os

    from hindex_spark.streaming.ingest import compact_changelog, replay_changelog
    from hindex_spark.table import Table

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    log = str(tmp_path / "log")
    t = Table(base, "k", "t").enable_changelog(log)
    for i in range(3):
        t = t.put(spark.createDataFrame([(10 + i, f"v{i}")], "k long, v string"))

    # simulate the crash: staging written, first rename done, second not
    import shutil

    shutil.copytree(log, log + ".compacting")
    os.rename(log, log + ".old")
    assert not os.path.exists(log)

    # replay recovers and replays every record
    peer = Table(base, "k", "peer")
    replayed = replay_changelog(spark, peer, log, t.changelog_schema).table.df
    got = sorted((r["k"], r["v"]) for r in replayed.collect())
    assert got == [(1, "a"), (10, "v0"), (11, "v1"), (12, "v2")]
    assert os.path.exists(log) and not os.path.exists(log + ".old")
    assert not os.path.exists(log + ".compacting")

    # same crash, recovery via emitter re-attach
    os.rename(log, log + ".old")
    t2 = Table(t.df, "k", "t").enable_changelog(log)
    t2 = t2.put(spark.createDataFrame([(99, "z")], "k long, v string"))
    assert t2._changelog.seq == 4  # resumed over the recovered log

    # same crash, recovery at the head of a fresh compaction
    os.rename(log, log + ".old")
    n = compact_changelog(spark, log, num_files=1)
    assert n == 1
    peer2 = Table(base, "k", "peer2")
    replayed2 = replay_changelog(spark, peer2, log, t.changelog_schema).table.df
    assert replayed2.count() == 5  # 1 base + 3 puts + the post-crash put


def test_attached_emitter_recovers_interrupted_compaction(spark, tmp_path):
    """An ALREADY-ATTACHED emitter (seq resumed) appending right after a
    compaction died between its two swap renames must restore the
    original log from .old before writing — otherwise the append
    recreates the log dir with only the new batch and the next healthy
    recovery/compaction permanently discards every prior record."""
    import os
    import shutil

    from hindex_spark.streaming.ingest import replay_changelog
    from hindex_spark.table import Table

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    log = str(tmp_path / "log")
    t = Table(base, "k", "t").enable_changelog(log)
    t = t.put(spark.createDataFrame([(10, "v0")], "k long, v string"))
    assert t._changelog.seq is not None  # attached: resume path is done

    # crash mid-swap: first rename happened, second did not
    shutil.copytree(log, log + ".compacting")
    os.rename(log, log + ".old")

    # next emit from the SAME emitter must recover, then append
    t = t.put(spark.createDataFrame([(11, "v1")], "k long, v string"))

    peer = Table(base, "k", "peer")
    replayed = replay_changelog(spark, peer, log, t.changelog_schema).table.df
    got = sorted((r["k"], r["v"]) for r in replayed.collect())
    assert got == [(1, "a"), (10, "v0"), (11, "v1")]
    assert not os.path.exists(log + ".old")
    assert not os.path.exists(log + ".compacting")


def test_changelog_attach_is_metadata_only(spark, tmp_path):
    """Re-attaching to a many-file log resumes seq from parquet FOOTER
    statistics: O(#files) metadata reads and NO Spark job — attach cost
    must not grow with log row count (the WAL grows unboundedly between
    compactions at reference mutation rates)."""
    import os

    from hindex_spark.streaming.ingest import ChangelogEmitter
    from hindex_spark.table import Table

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    log = str(tmp_path / "log")
    t = Table(base, "k", "t").enable_changelog(log)
    for i in range(4):
        t = t.put(spark.createDataFrame([(10 + i, f"v{i}")], "k long, v string"))
    nfiles = len([f for f in os.listdir(log) if f.endswith(".parquet")])
    assert nfiles >= 4  # one append per mutation

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    em = ChangelogEmitter(log)
    assert em._resume_seq(spark) == 4
    after = set(tracker.getJobIdsForGroup())
    assert after == before, "attach launched a Spark job (full log scan)"


def test_emit_never_clears_live_compaction_staging(spark, tmp_path):
    """An emit landing while a compaction staging dir exists (a live
    compactor, possibly in another process) must not delete it: only
    compact_changelog clears its own staging. The emit itself still
    succeeds and appends."""
    import os

    from hindex_spark.table import Table

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    log = str(tmp_path / "log")
    t = Table(base, "k", "t").enable_changelog(log)
    t = t.put(spark.createDataFrame([(10, "v0")], "k long, v string"))

    staging = log + ".compacting"
    os.makedirs(staging)
    marker = os.path.join(staging, "half-written.parquet.tmp")
    with open(marker, "w") as fh:
        fh.write("in-flight")

    t = t.put(spark.createDataFrame([(11, "v1")], "k long, v string"))
    assert os.path.exists(marker), "emit deleted a live compaction's staging"
    assert t._changelog.seq == 2


def test_kill_mid_batch_restart_replays_from_checkpoint(spark, tmp_path):
    """TestIndexPutsWithRegionServerRestart analog: the ingest process
    dies MID-BATCH — after the batch's table+index fold is computed (the
    'data written' moment) but before the commit — then restarts from
    the Structured Streaming checkpoint. Required: (a) the half-applied
    batch is observable NOWHERE (table and index stay at the previous
    version together — a reader never sees the table ahead of its
    index); (b) the restarted query re-delivers the batch and applies it
    exactly once."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    base = spark.createDataFrame(
        [("r1", 10), ("r2", 20), ("r3", 30)], ["rowkey", "v"]
    )
    t = Table(base, "rowkey", "t")
    t.create_index(IndexSpecification("idx_v").add_column("v", "Int"))

    src = str(tmp_path / "mutations")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("put", "r1", 11), ("put", "r9", 99), ("delete", "r2", None)],
        "op string, rowkey string, v int",
    ).write.parquet(src)

    class KillMidBatch(StreamingIngest):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.kills_remaining = 1

        def apply_batch(self, batch_df, epoch_id):
            if self.kills_remaining > 0:
                self.kills_remaining -= 1
                # compute the fold exactly like the real path (table AND
                # index plans built and materialized), then die before
                # the single commit assignment
                rk = self.table.rowkey_col
                keep = [rk] + [
                    c for c in batch_df.columns
                    if c != rk and c != "op" and c in self.table.df.columns
                ]
                t2 = self.table.delete(
                    batch_df.filter(F.col("op") == "delete").select(rk)
                )
                t2 = t2.put(batch_df.filter(F.col("op") == "put").select(*keep))
                t2.df.count()  # the 'table write' happened...
                raise RuntimeError("simulated ingest death mid-batch")
            super().apply_batch(batch_df, epoch_id)

    ingest = KillMidBatch(t)
    stream = spark.readStream.schema("op string, rowkey string, v int").parquet(src)
    with pytest.raises(StreamingQueryException, match="mid-batch"):
        q = ingest.start(stream, checkpoint=ckpt)
        q.awaitTermination()

    # (a) nothing half-applied: table AND index both at the pre-batch state
    assert ingest.batches_applied == 0
    got = {r["rowkey"]: r["v"] for r in ingest.table.df.collect()}
    assert got == {"r1": 10, "r2": 20, "r3": 30}
    idx = {(r["v"], r["rowkey"]) for r in ingest.table.index_tables["idx_v"].collect()}
    assert idx == {(10, "r1"), (20, "r2"), (30, "r3")}

    # (b) restart from the same checkpoint: batch re-delivered, applied once
    q2 = ingest.start(
        spark.readStream.schema("op string, rowkey string, v int").parquet(src),
        checkpoint=ckpt,
    )
    q2.awaitTermination()
    assert ingest.batches_applied == 1
    got = {r["rowkey"]: r["v"] for r in ingest.table.df.collect()}
    assert got == {"r1": 11, "r3": 30, "r9": 99}
    idx = {(r["v"], r["rowkey"]) for r in ingest.table.index_tables["idx_v"].collect()}
    assert idx == {(11, "r1"), (30, "r3"), (99, "r9")}

    # a further restart re-delivers NOTHING (the batch is committed)
    q3 = ingest.start(
        spark.readStream.schema("op string, rowkey string, v int").parquet(src),
        checkpoint=ckpt,
    )
    q3.awaitTermination()
    assert ingest.batches_applied == 1  # exactly once, not at-least-once
    assert {r["rowkey"]: r["v"] for r in ingest.table.df.collect()} == {
        "r1": 11, "r3": 30, "r9": 99,
    }


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join equals the batch interval join
    (inner matches emit in the batch they are found), and both sides
    carry watermarks so the plan's join state is bounded."""
    from hindex_spark.streaming.ingest import stream_interval_join
    from hindex_spark.timeutil import ts_timestamp

    src = str(tmp_path / "events")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(src)
    schema = spark.read.parquet(src).schema

    def _side(stream, event_type, ts_name, cols):
        s = stream.withColumn("__t", ts_timestamp(stream)).filter(
            F.col("event_type") == event_type
        )
        return s.select(*cols, F.col("__t").alias(ts_name))

    s1 = spark.readStream.schema(schema).parquet(src)
    s2 = spark.readStream.schema(schema).parquet(src)
    clicks = _side(s1, "click", "c_ts", [F.col("user_id").alias("c_user")])
    buys = _side(s2, "purchase", "p_ts", [F.col("user_id").alias("p_user"), "value"])
    joined = stream_interval_join(
        clicks, buys, F.col("p_user") == F.col("c_user"), "c_ts", "p_ts", 3600,
        watermark="2 hours",
    )
    assert "watermark" in joined._jdf.queryExecution().analyzed().toString().lower()
    q = (
        joined.writeStream.outputMode("append").format("memory")
        .queryName("ssj_test").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT COUNT(*) AS n FROM ssj_test").first()["n"]

    ev = spark.read.parquet(src)
    ev = ev.withColumn("__t", ts_timestamp(ev))
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("__t").alias("c_ts")
    )
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("__t").alias("p_ts"), "value"
    )
    want = bc.join(
        bp,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 3600 SECONDS")),
    ).count()
    assert got == want and got > 0
