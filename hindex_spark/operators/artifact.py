"""The artifact-store base: the storage layer every persisted artifact
(SearchIndex postings, DedupState rows, AnnIndex vectors, RollupStore
and ProfileStore partials, JoinView sides) shares, written once.

- **Metadata file.** A store's identity and counters live in
  ``<root>/<name>_<kind>_meta.json``; each store maps it to attributes
  with one ``_meta()`` (dict out) and one ``_load_meta(m)`` (dict in).
  ``open()`` builds a handle from it, ``_reload_meta()`` re-reads it at
  the top of every locked mutation (another process may have mutated
  the store since this handle loaded it — applying a delta to a stale
  baseline loses that update), ``_save_meta()`` commits it.
- **Atomic commit.** ``write_meta`` writes a temporary file and
  ``os.replace``s it over the live one — the commit rule of
  ``Catalog._save_locked``'s descriptor. A reader that takes no lock,
  or a load after a crash mid-write, sees the old or the new document,
  never a truncated one.
- **Refresh-at-read registration.** Bucketed tables are registered per
  session; ``_ensure_registered`` re-attaches them on a fresh session
  with ``tableExists`` and never a resolve (a resolve primes the
  session's file-listing cache, and a later INSERT from a foreachBatch
  session clone would be silently missed). ``_raw()`` refreshes the
  table at every read entry, and ``_insert`` runs each INSERT on the
  rows' own session, then refreshes the catalog session.
- **Tombstones.** The stores' ``update()`` contract is append-only;
  replacement needs deletion, and the rows to delete are scattered
  across buckets (a document's postings hash by token, not by id), so
  a partial rewrite can't be bucket-confined. The answer is Lucene's: a
  generation-stamped store plus a small side set of "superseded up to
  generation G" markers consulted at read time and purged physically
  at the next compaction — the newest-cell-wins rule of cells.py
  applied to artifact rows. Every row carries ``gen`` (build = 0); a
  tombstone ``(id, below_gen)`` kills the id's rows with
  ``gen < below_gen``; ``live_view`` left-joins the BROADCAST per-id
  cut onto the store (one broadcast hash join, zero shuffles, and
  key-pruning filters still push below it; no tombstones -> the frame
  untouched). ``compact()`` applies the same cut while rewriting and
  clears the set; generations are PRESERVED, so re-applying a stale
  set after a crash between the steps is a no-op. The set holds ids
  changed since the last compaction — broadcast-material by design,
  Lucene's live-docs bitset; ``tombstone_count`` lets callers schedule
  compaction before it outgrows a broadcast.
- **Id-keyed stores** (``KeyedStore``: SearchIndex, DedupState,
  AnnIndex) share ``update``/``upsert``/``delete``/``compact``; each
  supplies how a batch becomes rows (``_append_batch``).
- **Generation corrections** (``VersionedStore``: JoinView per side;
  ``GenerationStore``: RollupStore, ProfileStore) share the
  correction refusals, the version history behind ``read_asof`` and
  the ``update``/``replace_batch``/``delete_batch`` verbs.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tombstone_path(catalog_root: str, table_name: str) -> str:
    return os.path.join(catalog_root, f"{table_name}_tombstones")


def _has_tombstones(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def read_tombstone_cuts(spark: SparkSession, path: str):
    """Per-id generation cutoff, or None when no tombstones exist:
    (id-named column, __below = max below_gen)."""
    if not _has_tombstones(path):
        return None
    return spark.read.parquet(path)


def append_tombstones(ids: DataFrame, id_col: str, below_gen: int,
                      path: str) -> None:
    """Record 'rows of these ids below ``below_gen`` are dead'. The ids
    frame is expected to be small (an upsert batch's pre-existing ids);
    coalesced to one file so the side directory stays a handful of tiny
    parquet files between compactions."""
    (
        ids.select(F.col(id_col), F.lit(below_gen).cast("long").alias("below_gen"))
        .coalesce(1)
        .write.mode("append")
        .parquet(path)
    )


def live_view(store: DataFrame, id_col: str, spark: SparkSession,
              path: str) -> DataFrame:
    """The store minus tombstoned generations. No tombstones -> the
    frame itself (zero overhead on never-upserted stores). A store
    written before the gen column existed has nothing to resolve."""
    if "gen" not in store.columns:
        return store
    tomb = read_tombstone_cuts(spark, path)
    if tomb is None:
        return store
    cuts = tomb.groupBy(id_col).agg(F.max("below_gen").alias("__below"))
    return (
        store.join(F.broadcast(cuts), id_col, "left")
        .filter(F.col("__below").isNull() | (F.col("gen") >= F.col("__below")))
        # the equi-join hoists the join key to column 0 — restore the
        # store's declared order, or a tombstone-purging compact()
        # rewrites the table key-first and the next positional
        # INSERT INTO miswrites (caught by the interleaving property
        # test: upsert -> compact -> upsert)
        .select(*store.columns)
    )


def clear_tombstones(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def tombstone_count(spark: SparkSession, path: str) -> int:
    """Distinct tombstoned ids — the broadcast-size gauge a maintenance
    job checks to schedule compaction."""
    tomb = read_tombstone_cuts(spark, path)
    if tomb is None:
        return 0
    return tomb.select(tomb.columns[0]).distinct().count()


def maintenance_stats(catalog, table_name: str) -> dict:
    """The numbers a maintenance job schedules compaction on:
    ``tombstoned_ids`` (distinct ids with live cuts — the broadcast-size
    gauge; Lucene's deleted-docs count) and ``data_files`` (parquet
    files under the store — files/bucket beyond 1 costs scans their
    reported sort order and per-file opens). Driver-side listing + one
    tiny tombstone aggregate; never touches the store's data."""
    data_dir = os.path.join(catalog.root, table_name, "data")
    files = 0
    if os.path.isdir(data_dir):
        files = sum(
            1 for f in os.listdir(data_dir) if f.endswith(".parquet")
        )
    return {
        "tombstoned_ids": tombstone_count(
            catalog.spark, tombstone_path(catalog.root, table_name)
        ),
        "data_files": files,
    }


#: meta-file suffix -> artifact kind (the stores' open() entry points)
_KINDS = {
    "_postings_meta.json": "search_index",
    "_dedupstate_meta.json": "dedup_state",
    "_rollup_meta.json": "rollup_store",
    "_annindex_meta.json": "ann_index",
    "_importance_meta.json": "importance_model",
}


def list_artifacts(catalog) -> list:
    """(name, kind) of every artifact store in the catalog — the
    discovery surface ``Catalog.list_tables`` provides for tables,
    extended to the meta-file-rooted stores. Driver-side listing
    only."""
    out = []
    if not os.path.isdir(catalog.root):
        return out
    for f in sorted(os.listdir(catalog.root)):
        for suffix, kind in _KINDS.items():
            if f.endswith(suffix):
                out.append((f[: -len(suffix)], kind))
    return out


def maybe_compact(store, max_tombstoned: int = 100_000,
                  max_files_per_bucket: int = 8) -> bool:
    """Compact ``store`` when maintenance debt crosses either threshold:
    the tombstone set approaching non-broadcast size (Lucene's
    too-many-deletes merge trigger) or file fragmentation costing scans
    their bucket sort. Works on any artifact store (duck-typed:
    ``catalog``/``table_name``/``num_buckets``/``id_col``/``compact``).
    Returns whether a compaction ran — call it after the daily
    update/upsert batch and maintenance schedules itself."""
    stats = maintenance_stats(store.catalog, store.table_name)
    if (
        stats["tombstoned_ids"] > max_tombstoned
        or stats["data_files"] > max_files_per_bucket * store.num_buckets
    ):
        store.compact()
        return True
    return False


# ---------------------------------------------------------------------------
# metadata files
# ---------------------------------------------------------------------------


def meta_path(catalog_root: str, name: str, kind: str) -> str:
    return os.path.join(catalog_root, f"{name}_{kind}_meta.json")


def read_meta(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def write_meta(path: str, meta: dict) -> None:
    """Commit ``meta`` atomically: write a writer-unique temporary file,
    then ``os.replace`` it over ``path`` (the commit point — atomic on
    POSIX, the same rule as Catalog._save_locked's descriptor). A
    failed write removes the temporary and leaves the live file as it
    was."""
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


# ---------------------------------------------------------------------------
# store bases
# ---------------------------------------------------------------------------


class ArtifactStore:
    """Base of the persisted artifact stores (see the module docstring).

    A subclass sets ``kind`` (the meta-file and main-table suffix) and
    ``bucket_col`` (the main table's bucketing column — a class constant
    or a property), and extends ``_meta``/``_load_meta`` through
    ``super()``. Handles come from ``build()`` (per store) or
    ``open()``; both pass the metadata dict to the constructor."""

    def __init__(self, catalog, name: str, meta: dict):
        self.catalog = catalog
        self.name = name
        self._load_meta(meta)

    # -- metadata -----------------------------------------------------------

    def _meta(self) -> dict:
        return {"num_buckets": self.num_buckets}

    def _load_meta(self, m: dict) -> None:
        self.num_buckets = m.get("num_buckets", 32)

    def _meta_path(self) -> str:
        return meta_path(self.catalog.root, self.name, self.kind)

    @classmethod
    def open(cls, catalog, name: str):
        """Handle to the store ``name`` persisted in ``catalog`` (next
        session / next day)."""
        return cls(catalog, name,
                   read_meta(meta_path(catalog.root, name, cls.kind)))

    def _reload_meta(self) -> None:
        """Re-read the persisted meta into this handle. MUST run at the
        top of every locked mutation: another process may have mutated
        the store since this handle loaded it, and a delta applied to
        the stale baseline silently loses that update (caught by the
        two-process chaos tests). Under the writer lease the disk meta
        is the one truth. A missing file leaves the handle as it is."""
        if os.path.isfile(self._meta_path()):
            self._load_meta(read_meta(self._meta_path()))

    def _save_meta(self) -> None:
        write_meta(self._meta_path(), self._meta())

    # -- tables -------------------------------------------------------------

    @property
    def table_name(self) -> str:
        """The main table's catalog-root-relative directory."""
        return f"{self.name}_{self.kind}_bucketed"

    @property
    def sql_name(self) -> str:
        """Root-tagged session registration name of the main table
        (session SQL names are global — Catalog.bucketed_sql_name)."""
        return self.catalog.bucketed_sql_name(self.table_name)

    def _tombstone_path(self) -> str:
        return tombstone_path(self.catalog.root, self.table_name)

    def _ensure_registered(self, table_name: str = None,
                           bucket_col: str = None) -> None:
        """Re-attach a table's session-scoped bucketed registration from
        its files + the persisted bucket count when a FRESH session
        opens the store. ``tableExists``, never a resolve: resolving
        primes the session's file-listing cache, and a later
        clone-session INSERT would then be silently missed. Defaults
        to the main table; side tables pass their own name/column."""
        table_name = table_name or self.table_name
        sql = self.catalog.bucketed_sql_name(table_name)
        if not self.catalog.spark.catalog.tableExists(sql):
            col = bucket_col or self.bucket_col
            self.catalog._attach_bucketed(
                sql, os.path.join(self.catalog.root, table_name, "data"),
                col, [col], self.num_buckets,
            )

    def _raw(self, table_name: str = None,
             bucket_col: str = None) -> DataFrame:
        """A table as stored — tombstoned generations included. Refreshed
        at every read entry: an earlier resolve primes the session's
        file-listing cache, and an INSERT since (another process, a
        foreachBatch session clone) would be silently invisible."""
        self._ensure_registered(table_name, bucket_col)
        sql = self.catalog.bucketed_sql_name(table_name or self.table_name)
        self.catalog.spark.catalog.refreshTable(sql)
        return self.catalog.spark.table(sql)

    def _live(self, df: DataFrame, id_col: str = None) -> DataFrame:
        """``df`` minus the generations this store's tombstones cut."""
        return live_view(df, id_col or self.id_col, self.catalog.spark,
                         self._tombstone_path())

    def _insert(self, rows: DataFrame, table_name: str = None,
                bucket_col: str = None) -> None:
        """Append ``rows`` (in the table's column order — INSERT INTO is
        positional and honors the bucket spec). The INSERT runs on the
        rows' OWN session: inside a streaming foreachBatch the batch
        lives in a session clone and temp views are session-scoped.
        The catalog session's listing is refreshed afterwards so its
        readers see the new files."""
        self._ensure_registered(table_name, bucket_col)
        sql = self.catalog.bucketed_sql_name(table_name or self.table_name)
        view = f"__insert_{sql}"
        sess = rows.sparkSession
        rows.createOrReplaceTempView(view)
        sess.sql(f"INSERT INTO {sql} SELECT * FROM {view}")
        sess.catalog.dropTempView(view)
        self.catalog.spark.catalog.refreshTable(sql)

    def _insert_pair(self, a: tuple, b: tuple) -> None:
        """Two independent ``_insert``s (argument tuples) as CONCURRENT
        jobs: they write different tables and share no input, so the
        wall time is the max of the two delta-sized writes instead of
        their sum (optimization-guide §2.6). Failures propagate from
        both; the caller's write lock still orders them externally."""
        from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(self._insert, *a)
            fb = pool.submit(self._insert, *b)
            fa.result()
            fb.result()

    def _write_table(self, rows: DataFrame, table_name: str = None,
                     bucket_col: str = None, num_buckets: int = None) -> None:
        """Rewrite a whole table through the catalog's staged write +
        atomic swap (readers never see a partial rewrite)."""
        from hindex_spark.table import Table

        table_name = table_name or self.table_name
        self.catalog.save_bucketed(
            Table(rows, bucket_col or self.bucket_col,
                  table_name[: -len("_bucketed")]),
            num_buckets=num_buckets or self.num_buckets,
        )

    def _migrate_gen_locked(self) -> None:
        """Hook: one-time rewrite of a store written before rows carried
        ``gen`` (caller holds the writer lock). No-op by default."""


class KeyedStore(ArtifactStore):
    """A store keyed by a document/vector id (``id_col``). ``update``
    appends a batch at the current generation, ``upsert`` replaces ids,
    ``delete`` retracts them — both by tombstone — and ``compact``
    purges. A subclass supplies ``_append_batch(batch, gen)`` and may
    override the ``_forget_ids`` and ``_rebuild_sides`` hooks."""

    def _meta(self) -> dict:
        return {**super()._meta(), "id_col": self.id_col,
                "cur_gen": self.cur_gen}

    def _load_meta(self, m: dict) -> None:
        super()._load_meta(m)
        self.id_col = m["id_col"]
        self.cur_gen = m.get("cur_gen", 0)

    def _append_batch(self, batch: DataFrame, gen: int) -> None:
        """INSERT the batch's rows at generation ``gen`` (caller holds
        the writer lock)."""
        raise NotImplementedError

    def _forget_ids(self, ids: DataFrame) -> None:
        """Hook run before the live rows of ``ids`` are cut."""

    def _rebuild_sides(self, num_buckets: int) -> None:
        """Hook: rebuild side tables from the just-compacted table."""

    def update(self, batch: DataFrame) -> None:
        """Per-batch maintenance: append the batch's rows (INSERT INTO
        honors the bucket spec; history is never rewritten). Assumes
        batch ids are new — re-ingesting an id ADDS rows; ``upsert`` is
        the replacement path."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            self._migrate_gen_locked()
            self._append_batch(batch, self.cur_gen)
            self._save_meta()

    def upsert(self, batch: DataFrame) -> None:
        """Replace-or-insert a batch: ids already stored get every older
        generation cut by a tombstone (including rows the new version
        no longer has), new ids just append. Write order is tombstone
        -> rows -> meta: the new rows carry ``gen == below_gen``, so the
        cut can never kill them, and a crash mid-sequence leaves the id
        temporarily absent — re-running the upsert completes it.
        Physical purge happens at the next ``compact()``."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            self._migrate_gen_locked()
            ids = batch.select(self.id_col).distinct()
            self._forget_ids(ids)
            self._tombstone_existing(ids)
            self._append_batch(batch, self.cur_gen)
            self._save_meta()

    def _tombstone_existing(self, ids: DataFrame) -> None:
        """The upsert existence probe: bump the generation and cut every
        stored generation of the ``ids`` already present. Read from the
        RAW table (the tombstone write must not read the directory it
        appends to; re-cutting an already-dead id is a no-op). The hit
        set is batch-bounded — persisted so the probe and the tombstone
        write share ONE scan — and a pure insert writes no tombstone
        file, or every later read would pay the broadcast cut for an
        empty set until the next compact."""
        self.cur_gen += 1
        existing = (
            self._raw().join(F.broadcast(ids), self.id_col, "left_semi")
            .select(self.id_col).distinct().persist()
        )
        try:
            if existing.take(1):
                append_tombstones(existing, self.id_col, self.cur_gen,
                                  self._tombstone_path())
        finally:
            existing.unpersist()

    def delete(self, ids: DataFrame) -> None:
        """Remove ids: one tombstone append cutting every current
        generation of them. Nothing is rewritten until ``compact()``."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            self._migrate_gen_locked()
            ids = ids.select(self.id_col).distinct()
            self._forget_ids(ids)
            self.cur_gen += 1
            append_tombstones(ids, self.id_col, self.cur_gen,
                              self._tombstone_path())
            self._save_meta()

    def compact(self, num_buckets: int = None) -> None:
        """Rewrite the store as one file per bucket, purging tombstoned
        generations. Every ``update()`` INSERT adds a file set per
        bucket, and multi-file buckets cost the scan its reported sort
        order (an extra Sort before merges) plus per-file opens.
        Generations are PRESERVED, so a crash between the rewrite and
        the tombstone clear re-applies the cuts as a no-op.
        ``num_buckets=None`` keeps the (just-reloaded) bucket count: a
        maintenance pass must never reset a custom layout, nor revert
        another process's change from a stale handle.

        The source is read as RAW parquet, not through the registered
        bucketed table: the bucketed scan CLAIMS the target hash
        partitioning, which lets Catalyst elide the rewrite's
        repartition, and each input task then writes its own per-bucket
        files (measured: 9 files survived the 'compaction')."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            self._migrate_gen_locked()
            if num_buckets is None:
                num_buckets = self.num_buckets
            rows = self._live(self.catalog.read_raw(self.table_name))
            self._write_table(rows, num_buckets=num_buckets)
            self._rebuild_sides(num_buckets)
            clear_tombstones(self._tombstone_path())
            self.num_buckets = num_buckets  # part of the attach contract
            self._save_meta()


class VersionedStore(ArtifactStore):
    """A store whose batches are correctable generations, with a
    version history for time travel (``read_asof``): one entry per
    mutating verb — ``{"v", "op", "add", "drop"}`` plus pass-through
    fields such as JoinView's ``side`` — replaying add/drop yields the
    live generations at any version. ``history`` is None on stores
    written before versions existed; those stay history-less (a
    partial history would reconstruct WRONG states)."""

    def _meta(self) -> dict:
        return {**super()._meta(), "history": self.history,
                "cur_version": self.cur_version,
                "sealed_version": self.sealed_version}

    def _load_meta(self, m: dict) -> None:
        super()._load_meta(m)
        self.history = m.get("history")
        #: monotonically increasing store version (build = 0)
        self.cur_version = m.get("cur_version", 0)
        #: versions strictly below this are unreadable: a physical
        #: rewrite purged rows their reconstruction needs
        self.sealed_version = m.get("sealed_version", 0)

    @staticmethod
    def _check_correctable(gen: int, cur: int, sealed_below: int,
                           corrected: dict,
                           label: str = "generation") -> None:
        """Refuse correction targets whose batch identity is gone:
        folded by compact() (sealed), never issued, or ALREADY
        corrected — ``corrected`` maps str(gen) to the superseding
        generation (None = retracted), and re-tombstoning a dead
        generation would leave both corrections live and
        double-count."""
        if gen < sealed_below:
            raise ValueError(
                f"{label} {gen} was folded by compact() (sealed below "
                f"{sealed_below}); its batch identity is gone — rebuild "
                "or apply a compensating batch"
            )
        if gen > cur:
            raise ValueError(f"{label} {gen} does not exist (cur_gen={cur})")
        prior = corrected.get(str(gen), "__absent__")
        if prior is None:
            raise ValueError(
                f"{label} {gen} was already retracted; there is nothing "
                "left to correct"
            )
        if prior != "__absent__":
            raise ValueError(
                f"{label} {gen} was already superseded by generation "
                f"{prior}; correct generation {prior} instead"
            )

    def _record_version(self, op: str, add=(), drop=(), seal: bool = False,
                        **extra) -> None:
        """Append one verb to the version history (caller holds the
        writer lock and commits meta afterwards). ``seal`` marks a
        physical rewrite: every earlier version becomes unreadable."""
        if self.history is None:
            return
        self.cur_version += 1
        self.history.append({
            "v": self.cur_version, "op": op, **extra,
            "add": [int(g) for g in add], "drop": [int(g) for g in drop],
        })
        if seal:
            self.sealed_version = self.cur_version

    def versions(self) -> list:
        """The store's version history (DESCRIBE HISTORY): one entry per
        mutating verb, oldest first. Entries below ``sealed_version``
        are listed but no longer readable."""
        return list(self.history or [])

    def _check_asof(self, version: int, what: str) -> None:
        """The ``read_asof`` guard, on freshly reloaded meta: refuse
        history-less stores, versions not yet written, and versions a
        rewrite sealed (the Delta-Lake VACUUM rule)."""
        self._reload_meta()
        if self.history is None:
            raise ValueError(
                f"{what} {self.name} predates version history; rebuild it "
                "to enable time travel"
            )
        if version > self.cur_version:
            raise ValueError(
                f"version {version} does not exist (cur_version="
                f"{self.cur_version})"
            )
        if version < self.sealed_version:
            sealing = next(
                ev for ev in self.history if ev["v"] == self.sealed_version
            )
            raise ValueError(
                f"version {version} was sealed by {sealing['op']}() at "
                f"version {self.sealed_version}: the rewrite purged rows "
                "its reconstruction needs"
            )


class GenerationStore(VersionedStore):
    """Batches of mergeable partials, one generation each; tombstones
    key on ``gen`` itself (a cut below gen+1 kills exactly generation
    gen). ``update`` appends a batch as a new generation and returns
    it, ``replace_batch`` supersedes one, ``delete_batch`` retracts one
    — a tombstone append plus at most one batch-sized INSERT, never a
    rebuild. A subclass supplies ``_append_locked(batch, gen)`` and may
    track generations through the ``_gens_changed`` hook."""

    def _meta(self) -> dict:
        return {**super()._meta(), "cur_gen": self.cur_gen,
                "sealed_below": self.sealed_below,
                "corrected": self.corrected}

    def _load_meta(self, m: dict) -> None:
        super()._load_meta(m)
        #: batch generation counter (build = 0, each verb bumps)
        self.cur_gen = m.get("cur_gen", 0)
        #: generations below this were folded by compact() — their
        #: batch identity is gone, corrections refuse them
        self.sealed_below = m.get("sealed_below", 0)
        #: correction chain: str(gen) -> superseding gen (None =
        #: retracted); a second correction must target the superseding
        #: gen. Cleared by compact() (sealed_below then covers it).
        self.corrected = m.get("corrected", {})

    def _append_locked(self, batch: DataFrame, gen: int) -> None:
        """INSERT one batch's partials at ``gen`` (caller holds the
        writer lock)."""
        raise NotImplementedError

    def _gens_changed(self, add: int = None, drop: int = None) -> None:
        """Hook after a verb appended generation ``add`` and/or cut
        generation ``drop``."""

    def _cut_gen(self, gen: int) -> None:
        gens = self.catalog.spark.createDataFrame([(gen,)], "gen long")
        append_tombstones(gens, "gen", gen + 1, self._tombstone_path())

    def _check_gen(self, gen: int) -> None:
        self._check_correctable(gen, self.cur_gen, self.sealed_below,
                                self.corrected)

    def update(self, batch: DataFrame) -> int:
        """Append the batch's partials as a NEW generation and return it
        — the handle ``replace_batch``/``delete_batch`` correct by.
        Batch-sized cost; history is never rewritten."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            self._migrate_gen_locked()
            gen = self.cur_gen + 1
            self._append_locked(batch, gen)
            self._gens_changed(add=gen)
            self.cur_gen = gen
            self._record_version("update", add=[gen])
            self._save_meta()
        return gen

    def replace_batch(self, gen: int, corrected: DataFrame) -> int:
        """CORRECT history: supersede generation ``gen`` (a misreported
        batch) with ``corrected``'s partials, without rebuilding — one
        tombstone append + one batch-sized INSERT at a new generation,
        which is returned (the reference's cell layer corrects history
        the same way, newest cell wins). Generations folded by
        ``compact()`` are refused, and so is a generation ALREADY
        corrected or retracted — re-correct by targeting the
        generation this method returned."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            self._migrate_gen_locked()
            self._check_gen(gen)
            new_gen = self.cur_gen + 1
            self._cut_gen(gen)
            self._append_locked(corrected, new_gen)
            self._gens_changed(add=new_gen, drop=gen)
            self.cur_gen = new_gen
            self.corrected[str(gen)] = new_gen
            self._record_version("replace", add=[new_gen], drop=[gen])
            self._save_meta()
        return new_gen

    def delete_batch(self, gen: int) -> None:
        """Retract a batch entirely: tombstone its generation, nothing
        rewritten until ``compact()``. Same refusals as
        ``replace_batch``."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            self._migrate_gen_locked()
            self._check_gen(gen)
            self._cut_gen(gen)
            self.corrected[str(gen)] = None
            self._gens_changed(drop=gen)
            self._record_version("delete", drop=[gen])
            self._save_meta()

    def _partials_asof(self, version: int, what: str) -> DataFrame:
        """The stored rows live at ``version`` (after ``_check_asof``):
        a generation-set scan filter replayed from meta, zero extra
        jobs and no tombstone join."""
        self._check_asof(version, what)
        live = self._live_gens_at(version)
        return self._raw().filter(
            F.col("gen").isin([int(g) for g in sorted(live)])
        )

    def _live_gens_at(self, version: int) -> set:
        """Replay the history prefix ``v <= version`` into the set of
        generations whose rows are live at that version. A compact's
        folded generation ADDS without clearing: after a clean compact
        the pre-fold rows are gone (harmless), and after a crash
        between compact's meta commit and its rewrite they ARE the
        state, so the tolerant set reads correctly either way.
        Generations dropped by replace/delete are excluded by the
        replay itself, so the scan filter needs no tombstone join."""
        live = set()
        for ev in self.history:
            if ev["v"] > version:
                break
            live |= set(ev["add"])
            live -= set(ev["drop"])
        return live
