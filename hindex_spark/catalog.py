"""Catalog: table descriptors + persistent storage layout.

Reference: HTableDescriptor/HColumnDescriptor (hbase-client/.../
HTableDescriptor.java) with TableIndices serialized into the descriptor
under INDEX_SPEC (TableIndices.java:53-115, Constants.java:44-53); index
tables created next to the data table by IndexMasterObserver.preCreateTable
(IndexMasterObserver.java:89-129).

Layout per table (one layout for every table):
    <root>/<table>/_descriptor.json      schema + rowkey + families + indexes
                                         + the live version number
    <root>/<table>/data[_v<N>]/          parquet, hash-bucketed on the rowkey
                                         (one file per bucket), sorted by
                                         rowkey within each bucket
    <root>/<table>/index[_v<N>]/<name>/  parquet, bucketed on the rowkey like
                                         the data, sorted by (indexed cols...,
                                         rowkey) within each bucket

Bucketing on the rowkey lets every rowkey join (mutation merges, index
semi-join application, index maintenance) run without an Exchange on the
stored side — the region-colocation analog (SecIndexLoadBalancer.java:
53-58). Sorting within each bucket keeps the HFile sort invariant per
file: point and range reads prune row groups by parquet min/max stats
(+ parquet bloom filters for point gets — the HFile block index and
bloom analogs).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hindex_spark.index.spec import TableIndices
from hindex_spark.table import Table

#: serializes session-catalog DDL (DROP+CREATE pairs) across threads —
#: the session catalog is per-JVM, so an in-process lock suffices
_REGISTRATION_LOCK = threading.RLock()


class SaveContentionError(RuntimeError):
    """Another writer holds this table's save lease (and it is not
    stale). The reference serializes DDL cluster-wide through the master
    (IndexMasterObserver.java:89-129); here the lease file is the
    storage-level stand-in."""


class FencedWriterError(RuntimeError):
    """This writer's lease was broken (it exceeded the lease TTL and a
    competitor took over) — the save ABORTS before the descriptor commit
    so it can never clobber the new holder's version. The fencing-token
    pattern: whoever's token is in the lease file at commit time wins;
    everyone else detects the takeover and stops."""


@dataclass
class FamilyDescriptor:
    """HColumnDescriptor analog: per-family physical knobs.

    ``bloom`` mirrors HColumnDescriptor's bloom type (BloomType.java /
    BloomFilterFactory.java:40): "NONE", "ROW" (rowkey bloom — the
    default, as in HBase), or "ROWCOL" (bloom on the rowkey AND every
    member column of this family — member columns are the table columns
    named ``<family>_<qualifier>``)."""

    name: str
    max_versions: int = 1
    ttl: Optional[int] = None  # seconds
    compression: str = "snappy"
    bloom: str = "ROW"


@dataclass
class TableDescriptor:
    """HTableDescriptor analog."""

    name: str
    rowkey_col: str
    families: List[FamilyDescriptor] = field(default_factory=list)
    indices: TableIndices = field(default_factory=TableIndices)
    num_buckets: int = 32
    version: int = 0
    #: column DDL per store ("__data" + one entry per index name) —
    #: recorded at save so load never needs file-footer schema inference
    #: (and a truncated/empty store, which has no files, stays loadable)
    schemas: Dict[str, str] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "rowkey_col": self.rowkey_col,
                "version": self.version,
                "schemas": self.schemas,
                "families": [
                    {
                        "name": f.name,
                        "max_versions": f.max_versions,
                        "ttl": f.ttl,
                        "compression": f.compression,
                        "bloom": f.bloom,
                    }
                    for f in self.families
                ],
                "indices": json.loads(self.indices.to_json()),
                "num_buckets": self.num_buckets,
            },
            indent=2,
        )

    @staticmethod
    def from_json(s: str) -> "TableDescriptor":
        d = json.loads(s)
        return TableDescriptor(
            d["name"],
            d["rowkey_col"],
            [
                FamilyDescriptor(
                    f["name"],
                    f.get("max_versions", 1),
                    f.get("ttl"),
                    f.get("compression", "snappy"),
                    f.get("bloom", "ROW"),
                )
                for f in d.get("families", [])
            ],
            TableIndices.from_json(json.dumps(d.get("indices", []))),
            d.get("num_buckets", 32),
            d.get("version", 0),
            d.get("schemas", {}),
        )


class Catalog:
    """Filesystem-backed table catalog (the master's table registry)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # Self-repair for vanilla sessions (the driver's): the layout
        # guarantees one file per bucket, so sorted-bucket-scan ordering
        # is always legal — lets co-bucketed SMJs skip the sort too.
        try:
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
            )
        except Exception:  # noqa: BLE001 - read-only conf contexts
            pass

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _sql_name(self, name: str, suffix: str = "") -> str:
        """Metastore-safe identifier for a catalog table artifact."""
        base = re.sub(r"[^A-Za-z0-9_]", "_", name)
        tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.abspath(self.root))[-32:]
        return f"hx_{tag}_{base}{suffix}"

    @staticmethod
    def _data_dir(d: str, version: int) -> str:
        return os.path.join(d, "data" if version == 0 else f"data_v{version}")

    @staticmethod
    def _index_root(d: str, version: int) -> str:
        return os.path.join(d, "index" if version == 0 else f"index_v{version}")

    @staticmethod
    def _gc_versions(d: str, keep: set) -> None:
        """Drop version directories other than ``keep`` (current + one
        grace generation for readers attached before the last commit)."""
        pat = re.compile(r"^(data|index)(_v(\d+))?$")
        for entry in os.listdir(d):
            m = pat.match(entry)
            if not m:
                continue
            v = int(m.group(3)) if m.group(3) else 0
            if v not in keep:
                shutil.rmtree(os.path.join(d, entry), ignore_errors=True)

    @staticmethod
    def _swap_in(final: str, staging: str) -> None:
        """Atomically promote ``staging`` to ``final`` (the write never
        touches ``final`` until it has fully succeeded — a failed job
        leaves the previous data intact; the reference gets this from
        HFile bulk-atomic renames)."""
        old = final + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(final):
            os.rename(final, old)
        os.rename(staging, final)
        shutil.rmtree(old, ignore_errors=True)

    @staticmethod
    def _ddl(schema) -> str:
        return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)

    @staticmethod
    def _physical_options(families, rowkey_col: str, columns) -> tuple:
        """Resolve FamilyDescriptor physical knobs to (codec, bloom_cols)
        for a parquet write. A single wide parquet store has ONE codec
        per file (Spark's writer does not expose parquet's per-column
        codecs), so mixed per-family compression — which the reference
        honors by storing families in physically separate HFiles — is
        rejected loudly rather than silently taking one of them. Bloom:
        any ROW/ROWCOL family enables the rowkey bloom (the HFile row
        bloom, BloomFilterFactory.java:40); ROWCOL additionally blooms
        that family's member columns (``<family>_<qualifier>``) — the
        ROWCOL bloom analog for column-touching point reads."""
        if not families:
            return None, [rowkey_col]
        for f in families:
            if f.bloom not in ("NONE", "ROW", "ROWCOL"):
                raise ValueError(f"unknown bloom type {f.bloom!r} for family {f.name!r}")
        codecs = {f.compression for f in families}
        if len(codecs) > 1:
            raise ValueError(
                f"mixed per-family compression {sorted(codecs)} cannot be honored "
                "in a single parquet store; save families with differing codecs "
                "as separate tables"
            )
        bloom_cols = [rowkey_col] if any(f.bloom != "NONE" for f in families) else []
        for f in families:
            if f.bloom == "ROWCOL":
                bloom_cols += [c for c in columns if c.startswith(f.name + "_")]
        return codecs.pop(), bloom_cols

    def _register_bucketed(
        self, qname: str, location: str, schema, bucket_col: str, sort_cols, n: int
    ) -> None:
        """(Re)register a bucketed external table over existing files —
        bucketing metadata lives in the session catalog, the files are
        ordinary parquet with bucket-id file names, so a fresh session
        re-attaches by re-running this DDL."""
        sc = ", ".join(f"`{c}`" for c in sort_cols)
        # DROP + CREATE is two statements against the (per-JVM) session
        # catalog; without the lock, two concurrent loads of the same
        # table both DROP then both CREATE and the loser dies with
        # TABLE_ALREADY_EXISTS. Readers stay otherwise lock-free: a
        # DataFrame returned by load() resolved its versioned location
        # eagerly, so later re-registrations never retarget it (the
        # version GC grace window covers files it still reads).
        with _REGISTRATION_LOCK:
            self.spark.sql(f"DROP TABLE IF EXISTS `{qname}`")
            self.spark.sql(
                f"CREATE TABLE `{qname}` ({self._ddl(schema)}) USING PARQUET "
                f"CLUSTERED BY (`{bucket_col}`) SORTED BY ({sc}) INTO {n} BUCKETS "
                f"LOCATION '{os.path.abspath(location)}'"
            )

    def _write_bucketed(
        self, df: DataFrame, final: str, qname: str, bucket_col: str, sort_cols, n: int,
        bloom_cols=None, codec=None, register=True, staging_suffix=".staging",
        swap=True,
    ) -> None:
        """``staging_suffix``/``swap``: Catalog.save stages each version
        write into a WRITER-UNIQUE directory (suffix = the fence token)
        and defers the swap to the commit phase — two writers racing the
        same version number (a zombie past its lease TTL + the takeover)
        can then never write into the same directory; the loser is
        fenced before its staging is ever promoted."""
        staging = final + staging_suffix
        shutil.rmtree(staging, ignore_errors=True)
        tmp = f"{qname}__staging"
        self.spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")
        w = (
            # repartition on the bucket hash first: one file per bucket,
            # which is what lets the scan report its sort order (multi-
            # file buckets fall back to an extra Sort before merge joins)
            df.repartition(n, F.col(bucket_col))
            .write.mode("overwrite")
            .bucketBy(n, bucket_col)
            .sortBy(*sort_cols)
        )
        for c in (bloom_cols if bloom_cols is not None else [bucket_col]):
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if codec is not None:
            w = w.option("compression", codec)
        w.option("path", staging).saveAsTable(tmp)
        self.spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")  # metadata only; files stay
        # Schema sidecar (underscore-prefixed: Spark treats it as a
        # hidden file, like _SUCCESS). A store compacted down to ZERO
        # live rows writes zero parquet files, and any later re-read by
        # footer inference dies with UNABLE_TO_INFER_SCHEMA — the
        # sidecar makes an empty store read as an empty frame (Lucene
        # happily compacts to zero live docs; so must this). Written
        # into STAGING so deferred-promotion writers (save()) carry it
        # through the swap.
        with open(os.path.join(staging, "_schema.ddl"), "w") as fh:
            fh.write(self._ddl(df.schema))
        # bucket-count sidecar: swaps atomically with the files, so a
        # later attach can never claim a count the layout doesn't have
        # (see _sidecar_buckets)
        with open(os.path.join(staging, "_buckets"), "w") as fh:
            fh.write(str(n))
        if not swap:
            return  # caller promotes staging after its fence check
        self._swap_in(final, staging)
        # re-register the final name: a previous registration of this
        # table may carry a different bucket count or schema, and a
        # bucketed join against stale bucketing metadata silently
        # misroutes rows — never trust an old registration to describe
        # new files. (Catalog.save defers this until AFTER its
        # descriptor commit so the session's SQL names never run ahead
        # of the committed version.)
        if register:
            self._register_bucketed(qname, final, df.schema, bucket_col, sort_cols, n)

    def save(
        self,
        table: Table,
        num_partitions: int = 32,
        families: Optional[List[FamilyDescriptor]] = None,
        lease_ttl: float = 600.0,
    ) -> None:
        """Persist table + all index tables.

        ``families``: per-family physical options (HColumnDescriptor
        analog) — compression codec and bloom type are applied to the
        data write (see ``_physical_options``), ttl/max_versions are
        recorded in the descriptor and derived onto each index spec
        (IndexSpecification.java:57-59,111-112). Default None keeps the
        rowkey bloom on with the session codec.

        ``num_partitions`` is the bucket count. Data and every index are
        hash-bucketed on the rowkey — every rowkey join (mutation merges,
        index semi-join application, index maintenance) then runs
        WITHOUT an Exchange on the stored side, the region-colocation
        analog (SecIndexLoadBalancer.java:53-58). Data files are sorted
        by rowkey and index files by (indexed cols..., rowkey) within
        each bucket, so row-group min/max stats prune point and range
        reads within each file.

        The write goes to a staging directory first and is atomically
        swapped in, so saving a table over the path its own lazy plan
        reads from cannot lose data.

        Writers are serialized per table at TWO layers. Same host: an
        exclusive flock on ``<table>/_save.lock`` for the whole
        read-version -> write -> commit -> GC sequence (without it, two
        concurrent saves would read the same descriptor version, write
        into the SAME new-version directories, and race the pointer swap
        and GC). Cross host — where flock may not propagate over the
        shared filesystem — a storage-level LEASE with a fencing token:
        save O_EXCL-creates ``<table>/_lease.json`` holding a fresh
        token; a competitor finding a lease younger than ``lease_ttl``
        raises SaveContentionError, while a stale lease (holder died or
        stalled past the TTL) is taken over atomically. Right before the
        descriptor commit the writer re-reads the lease: if its token is
        gone it was fenced — FencedWriterError, nothing clobbered. Pick
        ``lease_ttl`` above the longest expected save; the reference
        gets the same guarantee from master-serialized DDL
        (IndexMasterObserver.java:89-129). Readers never take either
        lock — the version pointer keeps them consistent."""
        d = self._dir(table.name)
        os.makedirs(d, exist_ok=True)
        with self._writer_flock(d):
            token = self._acquire_lease(d, lease_ttl)
            try:
                self._save_locked(
                    table, d, num_partitions, families, fence_token=token
                )
            finally:
                self._release_lease(d, token)

    @contextmanager
    def write_lock(self, table_dir_name: str, lease_ttl: float = 600.0):
        """Writer serialization for ad-hoc artifact mutations — the
        postings / dedup-state / rollup stores append with INSERT INTO
        and rewrite via compact(), which do not pass through ``save()``
        and so would otherwise race each other (two concurrent appends
        can collide in the commit protocol, and a compact can swap the
        directory out from under an in-flight insert). This exposes the
        SAME same-host flock + cross-host TTL lease the versioned save
        path uses; a concurrent holder raises SaveContentionError.
        Yields the fence token."""
        d = os.path.join(self.root, table_dir_name)
        os.makedirs(d, exist_ok=True)
        with self._writer_flock(d):
            token = self._acquire_lease(d, lease_ttl)
            try:
                yield token
            finally:
                self._release_lease(d, token)

    @contextmanager
    def _writer_flock(self, d: str):
        """Same-host writer serialization (a test seam: stubbed out to
        simulate a second host whose flock does not span the storage)."""
        import fcntl

        with open(os.path.join(d, "_save.lock"), "w") as lock_fh:
            fcntl.flock(lock_fh, fcntl.LOCK_EX)  # released on close
            yield

    def _lease_path(self, d: str) -> str:
        return os.path.join(d, "_lease.json")

    def _acquire_lease(self, d: str, ttl: float) -> str:
        """O_EXCL-create the lease (atomic claim on POSIX and on object
        stores with if-none-match semantics). An existing lease younger
        than ``ttl`` -> SaveContentionError. A stale one is taken over
        via atomic replace; if two writers race the takeover, exactly
        one token survives in the file and the commit-time fence check
        stops the other."""
        import socket
        import time

        lease = self._lease_path(d)
        token = uuid.uuid4().hex
        payload = json.dumps(
            {
                "token": token,
                "pid": os.getpid(),
                "host": socket.gethostname(),
                "acquired_at": time.time(),
            }
        )
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as fh:
                fh.write(payload)
            return token
        except FileExistsError:
            pass
        try:
            with open(lease) as fh:
                cur = json.load(fh)
        except Exception:
            cur = None  # vanished or corrupt — treat as stale
        if cur is not None:
            age = time.time() - float(cur.get("acquired_at", 0))
            if age < ttl and not self._lease_holder_dead(cur):
                raise SaveContentionError(
                    f"table dir {d!r}: save lease held by pid "
                    f"{cur.get('pid')} on {cur.get('host')!r} "
                    f"(age {age:.1f}s < ttl {ttl:.1f}s)"
                )
        tmp = f"{lease}.{token}.tmp"
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, lease)
        return token

    @staticmethod
    def _lease_holder_dead(cur: dict) -> bool:
        """A lease whose holder is a DEAD process on THIS host is stale
        immediately — without this, a writer killed between lease
        acquire and release blocks every later same-host save (where
        the flock already proves no live writer) for the full TTL. On
        another host pid liveness is unknowable here, so the TTL
        governs (the cross-host fencing path)."""
        import socket

        if cur.get("host") != socket.gethostname():
            return False
        try:
            os.kill(int(cur["pid"]), 0)
            return False  # alive (or at least present)
        except ProcessLookupError:
            return True
        except (PermissionError, KeyError, TypeError, ValueError):
            return False  # exists-but-not-ours, or unreadable — be safe

    def _check_fence(self, d: str, token: str) -> None:
        try:
            with open(self._lease_path(d)) as fh:
                cur = json.load(fh)
        except Exception:
            cur = {}
        if cur.get("token") != token:
            raise FencedWriterError(
                f"table dir {d!r}: save lease was taken over by pid "
                f"{cur.get('pid')} on {cur.get('host')!r} (this save "
                f"exceeded its lease TTL); aborting before the "
                f"descriptor commit — the new holder's version is intact"
            )

    def _release_lease(self, d: str, token: str) -> None:
        try:
            with open(self._lease_path(d)) as fh:
                if json.load(fh).get("token") != token:
                    return  # fenced — the lease belongs to someone else now
            os.remove(self._lease_path(d))
        except (OSError, ValueError):
            # ValueError covers json.JSONDecodeError on a concurrently-
            # replaced/corrupt lease: a release failure must never make
            # an already-committed save look failed to the caller.
            pass

    def _save_locked(
        self,
        table: Table,
        d: str,
        num_partitions: int,
        families: Optional[List[FamilyDescriptor]],
        fence_token: Optional[str] = None,
    ) -> None:
        # Version-pointer commit (TestAcidGuaranteesForIndex invariant —
        # a reader must NEVER see the table ahead of its indexes, which
        # the reference gets from same-RPC index mutation): data AND
        # every index are written to fresh version-suffixed directories,
        # invisible until the descriptor — the single pointer — is
        # atomically os.replace()d to reference the new version. A crash
        # at any earlier point leaves the previous version fully live.
        # The immediately-previous version's directories are kept one
        # generation as a grace window for in-flight lazy readers (at
        # 100 TB this becomes a retention policy / GC horizon).
        cur = -1
        desc_file = os.path.join(d, "_descriptor.json")
        if os.path.isfile(desc_file):
            with open(desc_file) as fh:
                cur = TableDescriptor.from_json(fh.read()).version
        new_v = cur + 1
        rk = table.rowkey_col
        codec, bloom_cols = self._physical_options(families, rk, table.df.columns)
        desc_indices = table.indices
        if families:
            from dataclasses import replace as dc_replace

            derived = []
            for spec in table.indices.indices:
                # MEMBER families only (IndexSpecification.java:57-59):
                # deriving from unrelated families would e.g. give the
                # index a shorter TTL than its own data, and compaction
                # would then drop live index entries. Derivation lands
                # on COPIES for the descriptor being written — the
                # caller's live IndexSpecification objects (and the
                # Table still holding them) are never mutated, so a
                # later save with different families starts clean.
                members = [
                    f
                    for f in families
                    if any(c.column.startswith(f.name + "_") for c in spec.columns)
                ]
                derived.append(
                    dc_replace(spec).derive_physical(members) if members else spec
                )
            desc_indices = TableIndices(derived)
        schemas = {"__data": self._ddl(table.df.schema)}
        for spec in table.indices.indices:
            schemas[spec.name] = self._ddl(table.index_tables[spec.name].schema)
        desc = TableDescriptor(
            table.name,
            table.rowkey_col,
            families=list(families or []),
            indices=desc_indices,
            num_buckets=num_partitions,
            version=new_v,
            schemas=schemas,
        )
        data_path = self._data_dir(d, new_v)
        index_root = self._index_root(d, new_v)
        # WRITER-UNIQUE staging (fence-token suffix): a zombie writer
        # past its lease TTL and its takeover both compute the same
        # new_v, but each writes into its OWN staging directories —
        # promotion to the v{N} paths happens only after the fence
        # check, so a fenced zombie can never clobber the takeover's
        # committed version files (previously both wrote
        # mode('overwrite') straight into the shared v{N} dirs).
        suffix = ".staging." + (fence_token or uuid.uuid4().hex)
        promotions = []       # (final, staging) — promoted post-fence
        registrations = []    # deferred until after the descriptor commit
        qd = self._sql_name(table.name, "__data")
        self._write_bucketed(
            table.df, data_path, qd, rk, [rk],
            num_partitions, bloom_cols=bloom_cols, codec=codec, register=False,
            staging_suffix=suffix, swap=False,
        )
        promotions.append((data_path, data_path + suffix))
        registrations.append((qd, data_path, table.df.schema, [rk]))
        for spec in table.indices.indices:
            # bucket by rowkey (shuffle-free maintenance + semi-join
            # application) but SORT by the indexed values: the
            # planner's range probe then prunes row groups on the
            # index key — losing only merge-join sortedness (a local
            # Sort), never the Exchange.
            qi = self._sql_name(table.name, f"__idx_{spec.name}")
            ipath = os.path.join(index_root, spec.name)
            idx_df = table.index_tables[spec.name]
            self._write_bucketed(
                idx_df, ipath, qi, rk, spec.indexed_names + [rk],
                num_partitions, codec=codec, register=False,
                staging_suffix=suffix, swap=False,
            )
            promotions.append((ipath, ipath + suffix))
            registrations.append((qi, ipath, idx_df.schema, spec.indexed_names + [rk]))
        hook = getattr(self, "_pre_commit_hook", None)
        if hook is not None:
            hook()  # test seam: observe the catalog BEFORE the pointer swap
        if fence_token is not None:
            # Fencing: if this writer's lease was broken (save exceeded
            # its TTL and a competitor took over), abort HERE — before
            # any staging is promoted — so the takeover's committed
            # version and its files are never clobbered or GC'd by a
            # zombie writer.
            self._check_fence(d, fence_token)
        for final, staging in promotions:
            self._swap_in(final, staging)
        if fence_token is not None:
            # Re-check after promotion: a takeover racing the promotion
            # window still fences this writer before the pointer swap.
            self._check_fence(d, fence_token)
        tmp = desc_file + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(desc.to_json())
        os.replace(tmp, desc_file)  # the commit point — atomic on POSIX
        # Only a COMMITTED version may own the session's SQL names: a
        # crash anywhere above leaves the registrations (like the
        # descriptor) pointing at the previous version.
        for qname, loc, schema, sort_cols in registrations:
            self._register_bucketed(qname, loc, schema, rk, sort_cols, num_partitions)
        self._gc_versions(d, keep={new_v, cur})
        # Sweep dead writers' staging leftovers (ours were renamed away;
        # anything else belongs to a crashed/fenced writer — we hold the
        # lease, so no live writer owns them).
        for root in (d, index_root):
            if not os.path.isdir(root):
                continue
            for entry in os.listdir(root):
                if ".staging." in entry:
                    shutil.rmtree(os.path.join(root, entry), ignore_errors=True)

    @staticmethod
    def _sidecar_schema(location: str):
        """The _schema.ddl sidecar as a StructType, or None."""
        from pyspark.sql import types as T

        p = os.path.join(location, "_schema.ddl")
        if os.path.isfile(p):
            with open(p) as fh:
                return T.StructType.fromDDL(fh.read())
        return None

    @staticmethod
    def _sidecar_buckets(location: str):
        """The _buckets sidecar as an int, or None. Written into the
        STAGED directory (like _schema.ddl) so it swaps atomically WITH
        the data files: the bucket count a store's meta json records can
        lag or lead the physical layout across a crash window (e.g. a
        rebucketing expire()/compact() that dies between its meta commit
        and the rewrite), and attaching with a count the files don't
        have silently corrupts shuffle-free joins. The sidecar cannot
        disagree with the files it rode in with."""
        p = os.path.join(location, "_buckets")
        if os.path.isfile(p):
            try:
                with open(p) as fh:
                    n = int(fh.read().strip())
            except (ValueError, OSError):
                return None
            # a corrupt/truncated sidecar ('0', negatives) must fall
            # back to the caller's count, not flow into INTO {n} BUCKETS
            return n if n >= 1 else None
        return None

    def read_raw(self, table_dir_name: str) -> DataFrame:
        """A ``save_bucketed`` store's data directory as RAW parquet
        (no claimed bucketing — what compaction rewrites read so the
        repartition really runs), schema pinned from the sidecar when
        present: a fully-purged store (zero parquet files) reads as an
        empty frame instead of failing footer inference."""
        loc = os.path.join(self.root, table_dir_name, "data")
        sch = self._sidecar_schema(loc)
        r = self.spark.read
        return (r.schema(sch) if sch else r).parquet(loc)

    def _attach_bucketed(
        self, qname: str, location: str, bucket_col: str, sort_cols, n: int,
        schema=None,
    ) -> DataFrame:
        # Always re-register from the files + descriptor: an existing
        # registration may describe a previous save (different bucket
        # count or schema), and REFRESH only clears file listings — it
        # cannot fix stale bucketing metadata, which would silently
        # corrupt shuffle-free joins. The descriptor-recorded schema is
        # preferred over footer inference: no file read at attach time,
        # and an empty store (truncate_table) has no footers to infer
        # from. The sidecar (save_bucketed stores) is next; inference
        # remains the last-resort fallback for pre-sidecar stores.
        if schema is None:
            schema = self._sidecar_schema(location)
        if schema is None:
            schema = self.spark.read.parquet(location).schema
        # the files' own bucket count wins over the caller's cached one:
        # a store meta that crashed mid-rebucket may claim a count the
        # layout doesn't have (see _sidecar_buckets)
        sidecar_n = self._sidecar_buckets(location)
        if sidecar_n is not None:
            n = sidecar_n
        # register AND resolve under one lock hold (RLock — nested in
        # _register_bucketed): spark.table() outside it would race a
        # concurrent load's DROP between this thread's CREATE and its
        # resolution, raising TABLE_OR_VIEW_NOT_FOUND. Once resolved,
        # the returned plan is bound to these files; later DROP/CREATE
        # of the name never retargets it.
        with _REGISTRATION_LOCK:
            self._register_bucketed(qname, location, schema, bucket_col, sort_cols, n)
            return self.spark.table(f"`{qname}`")

    def load(self, name: str) -> Table:
        """Open a table: reads descriptor, attaches data + index scans
        (lazy — nothing is read until a query runs). Data and indexes are
        re-registered in the session catalog so Catalyst knows their
        hash partitioning and skips the Exchange in rowkey joins."""
        d = self._dir(name)
        with open(os.path.join(d, "_descriptor.json")) as f:
            desc = TableDescriptor.from_json(f.read())
        rk = desc.rowkey_col
        # The descriptor names ONE version for table + all indexes: a
        # load can only ever attach a matching (data, index) pair, no
        # matter where a concurrent save is in its write phase.
        data_path = self._data_dir(d, desc.version)

        def _schema(key):
            from pyspark.sql import types as T

            ddl = desc.schemas.get(key)
            return T.StructType.fromDDL(ddl) if ddl else None

        df = self._attach_bucketed(
            self._sql_name(name, "__data"), data_path, rk, [rk],
            desc.num_buckets, schema=_schema("__data"),
        )
        t = Table(df, rk, name, desc.indices)
        t.families = list(desc.families)  # descriptor options ride along
        for spec in desc.indices.indices:
            t.index_tables[spec.name] = self._attach_bucketed(
                self._sql_name(name, f"__idx_{spec.name}"),
                os.path.join(self._index_root(d, desc.version), spec.name),
                rk,
                spec.indexed_names + [rk],
                desc.num_buckets,
                schema=_schema(spec.name),
            )
        return t

    def bucketed_sql_name(self, dir_name: str) -> str:
        """Session-SQL identifier for a ``save_bucketed`` artifact: the
        on-disk directory name is catalog-root-relative, but session SQL
        names are SESSION-GLOBAL, so the registered name is tagged with
        this catalog's root (like ``_sql_name``). Without the tag, two
        Catalog instances in one session (every gate makes a fresh
        tempdir Catalog) collide on e.g. ``gate_events_rollup_bucketed``
        and any re-registration interleaving leaves a reader pointed at
        another invocation's files."""
        return self._sql_name(dir_name)

    def save_bucketed(self, table: Table, num_buckets: int = 32) -> None:
        """Explicit-name bucketed persistence (bucketBy rowkey): joins
        and aggregations on the rowkey then run WITHOUT a shuffle on
        this side — the analog of the reference's region colocation
        (SecIndexLoadBalancer keeps T and T_idx regions together so the
        index semi-join is region-local). The artifact stores (postings,
        dedup state, rollups, ...) persist through it; a table with
        indexes goes through ``save()`` (descriptor-integrated, versioned).
        This variant writes ``table.df`` only, under
        ``<root>/<name>_bucketed``, and registers the ROOT-TAGGED session
        name ``bucketed_sql_name("<name>_bucketed")``, sharing the same
        atomic staging + fresh-registration plumbing."""
        rk = table.rowkey_col
        name = f"{table.name}_bucketed"
        self._write_bucketed(
            table.df, os.path.join(self.root, name, "data"),
            self.bucketed_sql_name(name), rk, [rk], num_buckets,
        )

    def list_tables(self) -> List[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            n
            for n in os.listdir(self.root)
            if os.path.isfile(os.path.join(self.root, n, "_descriptor.json"))
        )

    def snapshot(self, name: str, snapshot_name: str) -> None:
        """TableSnapshotInputFormat analog: an immutable copy readable
        without touching the live table."""
        t = self.load(name)
        snap = Table(t.df, t.rowkey_col, f"{name}@{snapshot_name}", t.indices)
        snap.index_tables = t.index_tables
        d = self._dir(f"{name}@{snapshot_name}")
        os.makedirs(d, exist_ok=True)
        # the snapshot's descriptor must carry the SOURCE's bucket count
        # and family options — a default save here would make
        # restore_snapshot/clone_snapshot (which read the snapshot's
        # descriptor) silently rewrite the table to 32 buckets and
        # drop every FamilyDescriptor (TTL, max_versions, bloom, codec)
        desc = self._load_desc(name)
        self.save(snap, num_partitions=desc.num_buckets,
                  families=list(desc.families) or None)

    # -- admin DDL (HBaseAdmin surface + IndexMasterObserver cascades) ------

    def drop_table(self, name: str) -> None:
        """disableTable + deleteTable with the fork's index cascade
        (IndexMasterObserver.postDeleteTableHandler:622-640 deletes the
        companion index table whenever the user table is deleted —
        orphaned index data must never survive its table). Unregisters
        every session SQL name (data + one per index), then removes the
        table directory: descriptor, all data/index versions, lock."""
        d = self._dir(name)
        desc_file = os.path.join(d, "_descriptor.json")
        if not os.path.isfile(desc_file):
            raise FileNotFoundError(f"no catalog table {name!r} at {d}")
        with open(desc_file) as fh:
            desc = TableDescriptor.from_json(fh.read())
        self.spark.sql(f"DROP TABLE IF EXISTS `{self._sql_name(name, '__data')}`")
        for spec in desc.indices.indices:
            self.spark.sql(
                f"DROP TABLE IF EXISTS `{self._sql_name(name, f'__idx_{spec.name}')}`"
            )
        shutil.rmtree(d)

    def truncate_table(self, name: str) -> None:
        """truncateTable (HBaseAdmin.truncateTable; the fork truncates
        the index table alongside — an index over zero rows is zero
        entries): keep schema, descriptor options and index SPECS,
        drop all rows from the table and every index. Implemented as a
        normal versioned save of the emptied table, so it is atomic and
        the previous version remains as the GC grace generation."""
        t = self.load(name)
        desc = self._load_desc(name)
        empty = Table(t.df.filter(F.lit(False)), t.rowkey_col, name)
        for spec in t.indices.indices:
            empty.create_index(spec)
        empty.families = t.families
        self.save(empty, num_partitions=desc.num_buckets,
                  families=t.families or None)

    def clone_snapshot(self, snapshot: str, new_name: str) -> None:
        """HBaseAdmin.cloneSnapshot: a new, independent table from a
        snapshot's content (indexes included)."""
        s = self.load(snapshot)
        clone = Table(s.df, s.rowkey_col, new_name, s.indices)
        clone.index_tables = dict(s.index_tables)
        desc = self._load_desc(snapshot)
        self.save(clone, num_partitions=desc.num_buckets,
                  families=list(desc.families) or None)

    def restore_snapshot(self, name: str, snapshot_name: str) -> None:
        """HBaseAdmin.restoreSnapshot: roll the live table back to a
        snapshot's content. A normal save = a new committed version, so
        readers switch atomically and the botched version stays one GC
        generation for in-flight scans."""
        self.clone_snapshot(f"{name}@{snapshot_name}", name)

    def _load_desc(self, name: str) -> "TableDescriptor":
        with open(os.path.join(self._dir(name), "_descriptor.json")) as fh:
            return TableDescriptor.from_json(fh.read())


def multi_table_scan(tables: List[Table]) -> DataFrame:
    """MultiTableInputFormat analog: one scan over several tables."""
    out = tables[0].df
    for t in tables[1:]:
        out = out.unionByName(t.df, allowMissingColumns=True)
    return out
