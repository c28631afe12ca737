"""Structured Streaming ingest — the reference's continuous write path
(Put stream -> MemStore -> flush) and WAL replication, re-expressed.

Reference semantics preserved: the fork applies index mutations in the
same RPC as data mutations (IndexRegionObserver.preBatchMutate ->
postBatchMutate, HRegion.batchMutateForIndex:2267). Here ``foreachBatch``
applies each micro-batch through Table.put/delete, which maintains every
index table inside the same batch job — identical atomicity guarantee
(a reader never sees the table ahead of its indexes).

WALPlayer analog: ``replay_changelog`` streams a directory of change
files (op, rowkey, columns...) and folds them into a table.

Also provides windowed/watermarked aggregation over an event stream —
the streaming analog of the AggregationClient verbs.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hindex_spark.table import Table


@contextmanager
def _log_lock(path: str):
    """Exclusive flock serializing changelog WRITERS — emit, compaction,
    and swap recovery — the same pattern as Catalog.save. Without it a
    concurrent emit could rmtree a live compaction's staging dir or
    rename ``.old`` back inside the swap window; with it, an emit landing
    during a compaction simply waits and then appends to the compacted
    log (its record is never silently dropped from the fold). Readers
    never take the lock: the seq COLUMN keeps replay order-consistent
    regardless of file layout. The lock file is a SIBLING of the log dir
    so parquet globs never see it."""
    import fcntl

    lock_path = path.rstrip("/") + ".lock"
    parent = os.path.dirname(lock_path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    with open(lock_path, "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)  # released on close
        yield


@contextmanager
def state_scaled_partitions(spark, input_bytes: int,
                            target_bytes: int = 32 * 1024 * 1024):
    """Pin the state-partition count a NEW streaming query bakes into its
    checkpoint to the stream's input VOLUME, not the session's shuffle
    width.

    Stateful operators (stream-stream joins, windowed/session aggs) fix
    their state partition count from ``spark.sql.shuffle.partitions`` at
    first start, and every micro-batch then pays a per-partition,
    per-store commit — the HDFS-backed provider writes and fsyncs a
    delta file per store instance per batch, and a stream-stream join
    runs FOUR stores per partition. That overhead scales with the
    partition COUNT while the useful work scales with state VOLUME.
    Measured at sf0.1 (1.6 MB input, 2 micro-batches): the interval join
    runs 7.4-7.7 s at 32 partitions and 2.0-2.7 s anywhere in 1..8,
    rising ~linearly above (~0.17 s per extra partition); the session
    window (95k sessions of state) bottoms at 4-8 (1.1-1.45 s vs 1.8 s
    at both 1 and 32). Deriving the count from input bytes — one
    partition per ``target_bytes``, floor 4 (residual agg/sink
    parallelism costs nothing inside the flat 1..8 band), cap 4x
    defaultParallelism so a genuinely large stream still spreads across
    the cluster — keeps small gates at the engine floor AND gives a
    100 TB stream thousands of partitions: the same scale-adaptive rule
    as the session's shuffle width (guide §2.2), applied to per-batch
    state volumes.

    Results are partition-count independent (state keying is
    unchanged); only the checkpoint layout differs, and each caller
    starts a fresh checkpoint. The count is set through the
    SESSION-GLOBAL ``spark.sql.shuffle.partitions``, so this assumes one
    query is planned at a time on the session: a query another thread
    plans inside the context gets the same width. Keep the context
    open across ``start()`` AND ``awaitTermination()`` — micro-batches
    re-plan under the current conf — and read the sink after exit so
    batch plans see the session default again."""
    floor = max(1, min(4, spark.sparkContext.defaultParallelism))
    n = max(floor, min((int(input_bytes) + target_bytes - 1) // target_bytes,
                       4 * spark.sparkContext.defaultParallelism))
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield n
    finally:
        spark.conf.set(key, old)


def dir_bytes(path: str) -> int:
    """Total payload bytes in a local source directory tree (the size
    proxy ``state_scaled_partitions`` keys on), partition subdirectories
    (``key=value/``) included. Hidden/marker files and directories
    (``.``/``_`` prefixed, e.g. ``_spark_metadata``) are skipped, as
    Spark's file sources skip them."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if not f.startswith((".", "_"))
        )
    return total


def _max_seq_from_footers(path: str) -> int:
    """Highest ``seq`` in the log, from parquet FOOTER statistics only:
    O(#files) metadata reads, no row data, and no Spark job — attach cost
    is independent of log row count (the reference likewise recovers its
    WAL sequence id from log metadata rather than replaying edits,
    FSHLog.java). Falls back to a single-column pyarrow read for a file
    whose footer lacks min/max stats (foreign writer). Returns 0 for a
    fresh or absent log."""
    import glob

    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return 0
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    best = 0
    for f in files:
        try:
            md = pq.read_metadata(f)
        except Exception:
            continue  # half-written stray; replay skips it the same way
        names = md.schema.names
        if "seq" not in names:
            continue
        idx = names.index("seq")
        file_best: Optional[int] = 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                file_best = None
                break
            file_best = max(file_best, int(st.max))
        if file_best is None:
            col = pq.read_table(f, columns=["seq"]).column("seq")
            m = pc.max(col).as_py()
            file_best = int(m) if m is not None else 0
        best = max(best, file_best)
    return best


class ChangelogEmitter:
    """Replication EMIT side — the WAL-shipping analog (hbase-server/
    .../replication/ ships WAL edits to peer clusters; the fork
    replicates index updates by replaying shipped edits through the same
    mutation path).

    Attached to a Table via ``Table.enable_changelog(path)``; every
    mutation then synchronously appends one batch of change records to
    ``path`` as parquet rows ``(seq, op, rowkey, <value columns...>)``:

    - Put emits its DELTA — exactly the cells the mutation carried,
      untouched columns null (a WAL edit); replay treats null as
      keep-old, matching Put semantics, and the emit makes ZERO table
      reads, so its cost is proportional to the batch at any scale;
    - computed mutations (increment/append/checkAnd*) emit the CDC
      after-image of the touched rows — their WAL analog carries the
      computed new cell values; the peer needs no op-specific logic;
    - op='delete' rows carry the rowkey with null values.

    ``seq`` increments per emitted batch, so ``replay_changelog`` (the
    WALPlayer analog) restores cross-batch order even when the whole log
    lands in one availableNow micro-batch. At scale the append is one
    parquet write of the touched rows per batch — cost proportional to
    the mutation, not the table.

    ``seq`` is PERSISTENT across attachments, like the reference's WAL
    sequence ids (hbase-server/.../regionserver/wal/FSHLog.java keeps a
    monotonically increasing id that survives log rolls and region-server
    restarts): on the first emit after attaching to a path that already
    holds records, the counter resumes from ``max(seq)`` found there —
    one parquet aggregate answered from footer statistics, no data scan.
    Without this, a restarted process would re-number from 1 and replay
    (which orders by seq) would apply post-restart edits BEFORE
    pre-restart ones — silent replica divergence."""

    def __init__(self, path: str):
        self.path = path
        self.seq: Optional[int] = None  # resumed lazily on first emit

    def _resume_seq(self, spark) -> int:
        """Highest seq already in the log (0 for a fresh path) — footer
        statistics only, O(#files) metadata reads, no Spark job (see
        ``_max_seq_from_footers``); caller holds the log lock."""
        return _max_seq_from_footers(self.path)

    def emit(self, op: str, rows: DataFrame, table_df: DataFrame, rowkey_col: str) -> None:
        # The whole append runs under the log lock: swap recovery, seq
        # resume, and the parquet write are then atomic w.r.t. a
        # concurrent compaction (an emit can no longer delete a live
        # staging dir or land inside the swap window and vanish from the
        # compacted fold). Recovery itself is the rename-back check ONLY
        # — stale ``.compacting`` staging belongs to compact_changelog.
        with _log_lock(self.path):
            _recover_swap(self.path)
            if self.seq is None:
                self.seq = self._resume_seq(rows.sparkSession)
            self.seq += 1
            cols = [F.lit(self.seq).alias("seq"), F.lit(op).alias("op"), F.col(rowkey_col)]
            rows_cols = set(rows.columns)
            for f in table_df.schema.fields:
                if f.name == rowkey_col:
                    continue
                if f.name in rows_cols:
                    cols.append(F.col(f.name))
                else:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            rows.select(*cols).write.mode("append").parquet(self.path)

    def log_schema(self, table_df: DataFrame, rowkey_col: str) -> str:
        rk_type = dict((f.name, f.dataType.simpleString()) for f in table_df.schema.fields)
        parts = ["seq int", "op string", f"{rowkey_col} {rk_type[rowkey_col]}"]
        parts += [
            f"{f.name} {f.dataType.simpleString()}"
            for f in table_df.schema.fields
            if f.name != rowkey_col
        ]
        return ", ".join(parts)


class StreamingIngest:
    """Fold a stream of mutation batches into a Table (+ its indexes).

    ``checkpoint_every``: every N batches the table and index plans are
    localCheckpoint-ed to truncate lineage — without this, a long-running
    stream accumulates one full-outer-join per batch in the plan and
    planning time grows without bound (the flush/compaction analog)."""

    def __init__(self, table: Table, checkpoint_every: int = 10, seq_col: str | None = None):
        self.table = table
        self.batches_applied = 0
        self.checkpoint_every = checkpoint_every
        # ``seq_col``: intra-batch ordering column (WAL sequence id). With
        # it, delete-then-reinsert sequences inside one batch fold
        # correctly; without it, deletes apply before puts (so a
        # reinserted key survives) and put-then-delete within one batch
        # is unordered — provide seq_col for exact changelog replay.
        self.seq_col = seq_col

    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch callback: rows with op='put'|'delete' + rowkey +
        value columns (+ seq_col for ordered replay). One batch = one
        atomic table+index version bump."""
        rk = self.table.rowkey_col
        seq = self.seq_col if self.seq_col and self.seq_col in batch_df.columns else None
        if seq:
            # keys with a delete: erase, then apply only puts AFTER the
            # key's last delete; per-column merge by max seq (max_by)
            dmax = (
                batch_df.filter(F.col("op") == "delete")
                .groupBy(rk)
                .agg(F.max(seq).alias("__dmax"))
            )
            puts_all = (
                batch_df.filter(F.col("op") == "put")
                .join(dmax, rk, "left")
                .filter(F.col("__dmax").isNull() | (F.col(seq) > F.col("__dmax")))
                .drop("__dmax")
            )
            value_cols = [
                c
                for c in puts_all.columns
                if c not in (rk, "op", seq) and c in self.table.df.columns
            ]
            merged = puts_all.groupBy(rk).agg(
                *[
                    F.expr(
                        f"max_by(`{c}`, CASE WHEN `{c}` IS NOT NULL THEN `{seq}` END)"
                    ).alias(c)
                    for c in value_cols
                ]
            )
            dels = dmax.select(rk)
            puts = merged
        else:
            # Unordered path: keep only columns the table knows (a WAL
            # carries bookkeeping columns — op, sequence ids — that a
            # Put must not see; Table.put fails loudly on unknowns).
            keep = [rk] + [
                c
                for c in batch_df.columns
                if c != rk and c not in ("op",) and c in self.table.df.columns
            ]
            puts = batch_df.filter(F.col("op") == "put").select(*keep)
            dels = batch_df.filter(F.col("op") == "delete").select(rk)
        t = self.table
        if dels.isEmpty() is False:
            t = t.delete(dels)
        if puts.isEmpty() is False:
            t = t.put(puts)
        self.batches_applied += 1
        if self.checkpoint_every and self.batches_applied % self.checkpoint_every == 0:
            t = t.checkpoint(eager=True)
        self.table = t

    def start(self, stream_df: DataFrame, trigger_once: bool = True, checkpoint: str | None = None):
        """Attach to a readStream DataFrame and start folding.

        ``checkpoint``: Structured Streaming checkpoint location. A batch
        whose ``apply_batch`` raises is NOT committed to the checkpoint,
        so a restarted query re-delivers it — combined with the
        single-assignment commit in ``apply_batch`` (table and index
        plans swap in together or not at all) this gives exactly-once
        fold semantics across ingest-process deaths, the
        region-server-restart recovery contract
        (TestIndexPutsWithRegionServerRestart)."""
        writer = stream_df.writeStream.foreachBatch(self.apply_batch).outputMode("update")
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()


#: column names replay_changelog recognizes as WAL sequence ids
_SEQ_CANDIDATES = ("seq", "seq_id", "sequence", "sequence_id", "wal_seq", "log_seq")


def replay_changelog(
    spark,
    table: Table,
    changelog_path: str,
    schema: str,
    seq_col: str | None = "auto",
) -> "StreamingIngest":
    """WALPlayer analog: replay a change log directory into a table.

    The reference WALPlayer (hbase-server/.../mapreduce/WALPlayer.java:66)
    preserves WAL write order; here intra-batch order comes from
    ``seq_col`` (with ``trigger availableNow`` the whole log can be ONE
    micro-batch, so without it put-then-delete of the same key would
    incorrectly keep the key). Default "auto" picks the first column of
    the log schema named like a sequence id; pass an explicit name or
    ``None`` (unordered — only safe for logs whose keys are touched once).
    """
    _recover_interrupted_compaction(changelog_path)
    stream = spark.readStream.schema(schema).parquet(changelog_path)
    if seq_col == "auto":
        seq_col = next((c for c in stream.schema.names if c in _SEQ_CANDIDATES), None)
    elif seq_col is not None and seq_col not in stream.schema.names:
        raise ValueError(f"seq_col {seq_col!r} not in changelog schema {stream.schema.names}")
    ingest = StreamingIngest(table, seq_col=seq_col)
    q = ingest.start(stream, trigger_once=True)
    q.awaitTermination()
    return ingest


def _recover_interrupted_compaction(path: str) -> None:
    """Crash recovery for ``compact_changelog``'s swap window, safe to
    call from any entry point: takes the log lock, renames the intact
    original back if a kill between the two swap renames left it at
    ``path.old`` with nothing at ``path``, and clears stale staging.
    Idempotent and a no-op for healthy logs."""
    with _log_lock(path):
        _recover_swap(path)
        shutil.rmtree(path.rstrip("/") + ".compacting", ignore_errors=True)


def _recover_swap(path: str) -> None:
    """Rename-back HALF of compaction crash recovery (caller holds the
    log lock): the swap is rename(path -> path.old) then
    rename(path.compacting -> path); a kill between the renames leaves
    the original log at ``path.old`` and nothing at ``path`` — restore
    it. Deliberately does NOT touch ``.compacting``: only
    compact_changelog may clear its own staging (an emit clearing it
    concurrently was the race ADVICE flagged — under the lock the point
    is moot in-process, but the narrow contract also keeps cross-process
    emitters from deleting a remote compactor's half-written staging)."""
    old = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


def compact_changelog(spark, path: str, num_files: int = 1) -> int:
    """Changelog maintenance: fold the one-tiny-parquet-file-per-batch
    appends (``ChangelogEmitter.emit`` writes one file per mutation) into
    ``num_files`` seq-sorted files — the log-roll/compaction analog of the
    reference's WAL management (FSHLog rolls + OldWALs cleanup). Replay
    orders by the ``seq`` COLUMN, so file layout never affects replay
    semantics; compaction only fixes the tiny-file swamp a high mutation
    rate produces.

    ``coalesce`` (not repartition) — no shuffle; at 100 TB run this as a
    rolling job over bounded seq windows so each compaction reads a
    bounded slice. Atomic: the compacted log is written to a staging dir
    and swapped in, so a crash mid-compaction leaves the original log
    intact. Attached emitters stay valid (their in-memory seq continues;
    a re-attaching emitter resumes from the preserved seq column).
    Returns the resulting parquet file count.

    Holds the log lock for the whole read -> staging write -> swap
    sequence, so concurrent emits serialize around it: an emit either
    lands before the read (and is folded) or after the swap (and appends
    to the compacted log) — never inside the window where it would
    vanish from the fold."""
    with _log_lock(path):
        _recover_swap(path)
        staging = path.rstrip("/") + ".compacting"
        shutil.rmtree(staging, ignore_errors=True)  # stale staging is OURS to clear
        df = spark.read.parquet(path)
        # sortWithinPartitions(seq): row-group min/max stats then keep the
        # replay-side seq ordering cheap to compute
        (
            df.coalesce(num_files)
            .sortWithinPartitions("seq")
            .write.mode("overwrite")
            .parquet(staging)
        )
        # one shared swap implementation: _recover_swap's ".old" contract
        # depends on the exact rename sequence, so a second hand-rolled
        # copy here would have to stay behaviorally identical forever
        # (etl.jobs.compact_table_files already reuses it too)
        from hindex_spark.catalog import Catalog

        Catalog._swap_in(path.rstrip("/"), staging)
    return len(
        [f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(".")]
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    join_cond,
    left_ts_col: str,
    right_ts_col: str,
    within_seconds: int,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join — the attribution shape
    (e.g. purchases within N seconds after a click). Both sides carry a
    watermark and the join adds the event-time range constraint, so
    Spark bounds the join state: a buffered row is dropped once the
    other stream's watermark passes its join window (the Structured
    Streaming stream-stream join contract). Inner matches emit in the
    batch they are found — no result is withheld.

    ``join_cond``: the key equality Column (sides must carry distinct
    column names). At 100 TB state size is O(events inside one watermark
    window per key), not O(stream)."""
    l = left.withWatermark(left_ts_col, watermark)
    r = right.withWatermark(right_ts_col, watermark)
    cond = (
        join_cond
        & (F.col(right_ts_col) >= F.col(left_ts_col))
        & (
            F.col(right_ts_col)
            <= F.col(left_ts_col) + F.expr(f"INTERVAL {int(within_seconds)} SECONDS")
        )
    )
    return l.join(r, cond)


def session_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization via the native session window
    (F.session_window): a session extends while events arrive within
    ``gap`` of the last one; window end = last event + gap. The
    streaming analog of operators.temporal.session_stats — same island
    semantics, but maintained incrementally with watermark-bounded
    state instead of a batch window function."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), key)
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            key,
            "n",
            "total_value",
        )
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over a stream."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win, "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
