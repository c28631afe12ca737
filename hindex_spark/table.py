"""Table API — the HTable/Scan/Get/mutation surface of the reference,
compiled to DataFrame plans.

Reference entry points re-expressed here:
  * ``Table.scan`` — HTable.getScanner (hbase-client/.../client/HTable.java:721)
    + the index interception at IndexRegionObserver.postScannerOpen:464-519;
  * ``Table.get`` — Get.java:66 / HRegion.get:4804 (a 1-row scan);
  * ``Table.get_row_or_before`` — HTable.java:705 floor lookup;
  * ``Table.put/delete/increment/append/check_and_*`` — the batch-mutation
    path HRegion.batchMutate:2194 / doMiniBatchMutation:2341, with index
    maintenance in the same job (IndexRegionObserver.preBatchMutate:149-186);
  * ``CellTable`` — versioned cell-layer table (MemStore/HFile model).

Scale: a Table wraps an immutable DataFrame (parquet scan); every verb
returns a new plan, so Catalyst sees the whole pipeline (pushdown through
scan+filter+project is automatic). Mutations are batch jobs producing the
next table version — snapshot-in/snapshot-out, the Spark-native analog of
MVCC.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Dict, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hindex_spark import cells as cell_mod
from hindex_spark.filters import Filter
from hindex_spark.index.build import build_index, maintain_index
from hindex_spark.index.planner import IndexPlan, ScanFilterEvaluator
from hindex_spark.index.spec import IndexSpecification, TableIndices


@dataclass
class Scan:
    """Scan.java — range + projection + filter + time/version knobs."""

    start_row: Any = None            # setStartRow (Scan.java:339) — inclusive
    stop_row: Any = None             # setStopRow (Scan.java:350) — exclusive
    stop_inclusive: bool = False     # InclusiveStopFilter convenience
    columns: Optional[Sequence[str]] = None  # addFamily/addColumn (Scan.java:266,280)
    filter: Optional[Filter] = None
    time_range: Optional[Tuple[int, int]] = None  # setTimeRange (Scan.java:305)
    max_versions: int = 1
    reversed: bool = False           # setReversed (Scan.java:585)
    limit: Optional[int] = None      # PageFilter / client-side stop
    index_hint: Any = None           # SingleIndex/MultiIndex/NoIndexExpression
    #: Reversed-range convention control. The reference's reversed scan
    #: (Scan.java:578-595) treats startRow as the HIGH end and stopRow
    #: as the LOW end. With both bounds set and start > stop that shape
    #: is unambiguous and honored automatically. With ONLY start_row (or
    #: only stop_row) set the shapes are indistinguishable, and the
    #: engine's low/high convention wins: a lone start_row is a LOW
    #: bound (rk >= start) even under reversed=True. A reference-ported
    #: single-bound reversed scan must set reference_range=True to get
    #: startRow-as-high / stopRow-as-low explicitly (requires
    #: reversed=True; raises otherwise).
    reference_range: bool = False


class Table:
    """A typed wide table (latest-version view) with optional secondary
    indexes. The primary query surface."""

    def __init__(
        self,
        df: DataFrame,
        rowkey_col: str,
        name: str = "table",
        indices: Optional[TableIndices] = None,
    ):
        self.df = df
        self.rowkey_col = rowkey_col
        self.name = name
        self.indices = indices or TableIndices()
        self.index_tables: Dict[str, DataFrame] = {}
        self.last_index_plan: Optional[IndexPlan] = None  # test spy
        self._changelog = None  # ChangelogEmitter when replication is on
        self._verbs_since_checkpoint = 0  # see checkpoint()

    #: Auto lineage truncation for chained mutations: every mutation verb
    #: stacks a full-outer merge + per-index maintenance joins into ONE
    #: lazy plan, so an interactive sequence of checkAnd*/put/delete grows
    #: the plan (and every downstream scan's planning time) without bound
    #: — measured 65 exchanges after two checkAnd* verbs on a 4-index
    #: table. After this many chained verbs the result is localCheckpoint'd
    #: non-eagerly (plan truncated immediately, computed on first action —
    #: the batch analog of StreamingIngest.checkpoint_every). Set to 0 to
    #: disable; call ``checkpoint()`` explicitly for eager truncation.
    AUTO_CHECKPOINT_EVERY: int = 2

    # -- construction ------------------------------------------------------

    @staticmethod
    def from_parquet(
        spark: SparkSession, path: str, rowkey_col: str, name: str = "table"
    ) -> "Table":
        return Table(spark.read.parquet(path), rowkey_col, name)

    def resolve_column(self, column: str) -> Column:
        """Resolve a filter's column reference against this table.

        Physical columns resolve directly. A derived ValuePartition name
        (e.g. ``p_name__sep2``) resolves to its partition EXPRESSION over
        the data table — so ``Scan(filter=SingleColumnValueFilter(
        "p_name__sep2", ...))`` works through the ordinary scan path,
        matching the reference where SingleColumnValuePartitionFilter is
        a client-visible filter (index/filter/
        SingleColumnValuePartitionFilter.java:57) evaluated on the main
        scanner while the planner probes the expression index."""
        if column in self.df.columns:
            return F.col(column)
        for spec in self.indices.indices:
            for cq in spec.columns:
                if cq.indexed_name == column and cq.value_partition is not None:
                    return cq.value_expr()
        return F.col(column)

    def physical_name(self, column: str) -> str:
        return column

    # -- index DDL (IndexMasterObserver.preCreateTable analog) --------------

    def create_index(self, spec: IndexSpecification, num_partitions: Optional[int] = None):
        """Attach + batch-build an index (TableIndexer.java:44-60)."""
        self.indices.add_index(spec)
        self.index_tables[spec.name] = build_index(
            self.df, spec, self.rowkey_col, num_partitions
        )
        return self

    def drop_index(self, name: str):
        self.indices.indices = [i for i in self.indices.indices if i.name != name]
        self.index_tables.pop(name, None)
        return self

    def cache(self) -> "Table":
        """Pin the table and its index tables in executor memory (the
        LruBlockCache analog) — worth it for repeatedly-probed tables;
        indexes especially, since every indexed scan touches them."""
        self.df = self.df.cache()
        self.index_tables = {k: v.cache() for k, v in self.index_tables.items()}
        return self

    def checkpoint(self, eager: bool = True) -> "Table":
        """Truncate the mutation-chain lineage of this table (and its
        index tables) via localCheckpoint — the batch analog of
        StreamingIngest._checkpointed (streaming/ingest.py). Plans built
        on the result no longer replay the whole verb chain, so planning
        time and repeated-subtree recomputation stay bounded for long
        interactive sequences. ``eager=False`` truncates the plan
        immediately but defers computation to the first action (pure
        laziness preserved); auto-truncation (AUTO_CHECKPOINT_EVERY)
        uses that mode."""
        out = Table(
            self.df.localCheckpoint(eager=eager),
            self.rowkey_col, self.name, self.indices,
        )
        out.index_tables = {
            k: v.localCheckpoint(eager=eager) for k, v in self.index_tables.items()
        }
        out._changelog = self._changelog
        out.last_index_plan = self.last_index_plan
        return out

    # -- reads --------------------------------------------------------------

    def scan(self, scan: Optional[Scan] = None) -> DataFrame:
        """The read path (SURVEY §3.1): range prune -> index planner ->
        semi-join -> residual filter -> projection -> order/limit."""
        scan = scan or Scan()
        if scan.time_range is not None or scan.max_versions != 1:
            # the wide layer is latest-version by construction; versioned
            # reads live on CellTable. Fail loudly instead of silently
            # returning unfiltered rows to a caller porting HBase code.
            raise NotImplementedError(
                "time_range/max_versions are cell-layer knobs: use "
                "CellTable.read(...) or CellTable.as_table(...)"
            )
        df = self.df
        rk = F.col(self.rowkey_col)

        # Reversed-range convention (Scan.java:578-595): on a reversed
        # scan the reference's startRow is the HIGH end (inclusive) and
        # stopRow the LOW end (exclusive unless stop_inclusive). A
        # caller porting reference code writes start > stop; honor that
        # unambiguous shape instead of silently returning zero rows.
        # (start <= stop keeps this engine's low/high convention, where
        # ``reversed`` only flips output order — the entrenched contract
        # of the property suite.)
        # ``reference_range=True`` opts single-bound reversed scans into
        # the reference convention explicitly (the shapes are ambiguous
        # with one bound — see the Scan field doc).
        if scan.reference_range and not scan.reversed:
            raise ValueError(
                "Scan(reference_range=True) is the REVERSED-scan range "
                "convention (startRow = high end, Scan.java:578-595); "
                "set reversed=True or drop the flag"
            )
        ref_reversed_range = scan.reversed and (
            scan.reference_range
            or (
                scan.start_row is not None
                and scan.stop_row is not None
                and scan.start_row > scan.stop_row
            )
        )
        if scan.start_row is not None:
            if ref_reversed_range:
                df = df.filter(rk <= F.lit(scan.start_row))
            else:
                df = df.filter(rk >= F.lit(scan.start_row))
        if scan.stop_row is not None:
            if ref_reversed_range:
                df = df.filter(
                    rk >= F.lit(scan.stop_row) if scan.stop_inclusive else rk > F.lit(scan.stop_row)
                )
            else:
                df = df.filter(
                    rk <= F.lit(scan.stop_row) if scan.stop_inclusive else rk < F.lit(scan.stop_row)
                )

        # Reversed scans evaluate direction-sensitive filters (WhileMatch
        # take-while, InclusiveStop bound, PageFilter paging) against
        # rows in SCAN order — swap in a direction-aware view of the
        # tree (the caller's filter objects are never mutated).
        scan_filter = scan.filter
        if scan.reversed and scan_filter is not None:
            from hindex_spark.filters import reverse_scan_view

            scan_filter = reverse_scan_view(scan_filter)

        # Index interception (IndexRegionObserver.postScannerOpen:464-519):
        # rewrite eligible predicates into index-range-scan -> semi-join.
        plan = IndexPlan(None, self.rowkey_col)
        if scan_filter is not None and (self.index_tables or scan.index_hint is not None):
            evaluator = ScanFilterEvaluator(self.indices.indices, self.rowkey_col)
            tree = scan_filter.index_tree(self)
            plan = evaluator.evaluate(tree, hint=scan.index_hint)
            if plan.uses_index or plan.is_empty:
                df = plan.apply(df, self.index_tables)
        self.last_index_plan = plan

        # The full filter is always re-applied (index only narrows seek
        # points; the main scan still runs the Filter — SURVEY §3.1 step 4).
        if scan_filter is not None and not plan.is_empty:
            df = scan_filter.apply(df, self)

        if scan.columns is not None:
            cols = list(scan.columns)
            if self.rowkey_col not in cols:
                cols = [self.rowkey_col] + cols
            # A filter may drop columns from the stream
            # (SingleColumnValueExcludeFilter.java:46): requesting the
            # excluded column returns rows without it, as the reference
            # does. Unknown names (never table columns) still fail loudly.
            cols = [c for c in cols if c in df.columns or c not in self.df.columns]
            df = df.select(*cols)

        if scan.reversed:
            df = df.orderBy(rk.desc())
        elif scan.limit is not None:
            df = df.orderBy(rk.asc())
        if scan.limit is not None:
            df = df.limit(scan.limit)
        return df

    def scan_where(self, where: str, columns: Optional[Sequence[str]] = None) -> DataFrame:
        """The idiomatic alternative to the ParseFilter DSL (SURVEY §2.3):
        a SQL WHERE string, handed directly to Catalyst (full pushdown;
        no engine-level index planning — use Scan+Filter for that)."""
        df = self.df.filter(F.expr(where))
        if columns is not None:
            cols = list(columns)
            if self.rowkey_col not in cols:
                cols = [self.rowkey_col] + cols
            df = df.select(*cols)
        return df

    def explain_scan(self, scan: Optional[Scan] = None, mode: str = "simple") -> str:
        """Explain hook (SURVEY M5c; mirrors the seek-point spy hooks of
        IndexRegionObserver.java:93-104): returns a report with the index
        decision — which indexes, what set-op tree, or why none — plus
        Spark's physical plan for the resulting DataFrame."""
        df = self.scan(scan)
        plan = self.last_index_plan
        lines = [f"table: {self.name} (rowkey={self.rowkey_col})"]
        if plan is None or not plan.uses_index:
            lines.append("index: none (full/pushed-down scan)")
        elif plan.is_empty:
            lines.append("index: CONTRADICTION -> provably empty result")
        else:
            lines.append(f"index: {', '.join(plan.used_indexes)}")

            def render(node, depth=1):
                from hindex_spark.index.planner import IndexScan, SetOp

                pad = "  " * depth
                if isinstance(node, IndexScan):
                    conds = []
                    for cr in node.conditions:
                        if cr.has_eq:
                            conds.append(f"{cr.column}={cr.eq!r}")
                        else:
                            lo = f"{'>=' if cr.lower_inc else '>'}{cr.lower!r}" if cr.lower is not None else ""
                            hi = f"{'<=' if cr.upper_inc else '<'}{cr.upper!r}" if cr.upper is not None else ""
                            conds.append(f"{cr.column} {lo} {hi}".strip())
                    lines.append(f"{pad}IndexScan[{node.index.name}]({', '.join(conds)})")
                elif isinstance(node, SetOp):
                    lines.append(f"{pad}{node.op}")
                    for ch in node.children:
                        render(ch, depth + 1)

            render(plan.root)
        lines.append("--- spark physical plan ---")
        lines.append(df._jdf.queryExecution().executedPlan().toString())
        return "\n".join(lines)

    def get(
        self,
        rowkey: Any,
        columns: Optional[Sequence[str]] = None,
        filter: Optional[Filter] = None,
    ) -> DataFrame:
        """Point read (Get.java:66) — a 1-row scan; the rowkey equality
        predicate is pushed to the parquet scan (min/max + bloom pruning,
        the HFile block-index/bloom analog). ``filter`` mirrors
        Get.setFilter (Get.java:207): the filter evaluates against the
        fetched row, so a non-matching Get returns empty — the
        conditional-read idiom."""
        df = self.df.filter(F.col(self.rowkey_col) == F.lit(rowkey))
        if filter is not None:
            df = filter.apply(df, self)
        if columns is not None:
            cols = [self.rowkey_col] + [c for c in columns if c != self.rowkey_col]
            cols = [c for c in cols if c in df.columns or c not in self.df.columns]
            df = df.select(*cols)
        return df

    def exists(self, rowkey: Any) -> bool:
        """HTable.exists(Get) (HTable.java:675) — presence check without
        transferring the row. The parquet bloom/min-max pruning does the
        heavy lifting; only a count reaches the driver."""
        return (
            self.df.filter(F.col(self.rowkey_col) == F.lit(rowkey)).limit(1).count()
            > 0
        )

    def exists_batch(self, rowkeys: DataFrame) -> DataFrame:
        """HTable.exists(List<Get>) (HTable.java:693) — one boolean per
        probed key, never one job per key and never a table-wide exchange.

        The table side is first semi-restricted to the broadcast probe set,
        so the ``distinct`` that follows runs over at most |probe hits| rows
        — the reference does per-key server probes, and at 100 TB a 5-key
        probe must not pay a full-table shuffle. Both joins broadcast the
        small side, so a bucketed/sorted table keeps a zero-exchange plan on
        its own rows."""
        rk = self.rowkey_col
        probes = rowkeys.select(rk).distinct()
        present = (
            self.df.join(F.broadcast(probes), rk, "left_semi")
            .select(rk)
            .distinct()
            .withColumn("__present", F.lit(True))
        )
        return (
            probes
            .join(F.broadcast(present), rk, "left")
            .select(rk, F.coalesce(F.col("__present"), F.lit(False)).alias("exists"))
        )

    def get_row_or_before(self, rowkey: Any) -> DataFrame:
        """Floor lookup (HTable.java:705): greatest row <= key."""
        return (
            self.df.filter(F.col(self.rowkey_col) <= F.lit(rowkey))
            .orderBy(F.col(self.rowkey_col).desc())
            .limit(1)
        )

    # -- mutations (batch; HRegion.batchMutate:2194 analog) ------------------

    def enable_changelog(self, path: str) -> "Table":
        """Turn on the replication emit side (WAL shipping,
        hbase-server/.../replication/): every subsequent mutation on this
        table — and on the tables its mutations return — synchronously
        appends its change batch to ``path`` (see ChangelogEmitter).
        Replay with ``replay_changelog`` on a peer copy to replicate."""
        from hindex_spark.streaming.ingest import ChangelogEmitter

        self._changelog = ChangelogEmitter(path)
        return self

    @property
    def changelog_schema(self) -> str:
        """DDL schema string of this table's change records (for
        ``replay_changelog``'s readStream)."""
        from hindex_spark.streaming.ingest import ChangelogEmitter

        emitter = self._changelog or ChangelogEmitter("")
        return emitter.log_schema(self.df, self.rowkey_col)

    def _with_new_df(
        self,
        df: DataFrame,
        affected: DataFrame,
        affected_state: Optional[DataFrame],
        op: str = "put",
        change: DataFrame = None,
    ) -> "Table":
        """``affected_state``: the new state of exactly the ``affected``
        rows (deleted rows absent), bounded by the batch — the input of
        every index's maintenance and, for column deletes and computed
        mutations, the changelog after-image. None only when the table
        has no index and no changelog needs it."""
        out = Table(df, self.rowkey_col, self.name, self.indices)
        # Same-job index maintenance (IndexRegionObserver.preBatchMutate).
        out.index_tables = {
            s.name: maintain_index(
                self.index_tables[s.name], affected, affected_state, s, self.rowkey_col
            )
            for s in self.indices.indices
        }
        out._changelog = self._changelog
        if self._changelog is not None:
            rk = self.rowkey_col
            if op in ("delete", "replace"):
                self._changelog.emit("delete", affected.select(rk), self.df, rk)
            if op != "delete":
                # A put ships its WAL-faithful DELTA (exactly the cells
                # it carried; replay treats NULL as keep-old). Column
                # deletes ("replace") CLEAR cells, which a put record
                # cannot express, so they ship delete(keys) above plus
                # the full after-image of the surviving rows: the peer
                # drops the row then rebuilds it, cleared columns come
                # back NULL and vanished rows stay gone. Computed
                # mutations (increment/append) ship the after-image too,
                # as their WAL carries the computed cell values. Either
                # way the emit cost is proportional to the batch.
                self._changelog.emit(
                    "put", change if change is not None else affected_state, self.df, rk
                )
        # Weight the auto-truncation counter by the index tables the
        # verb re-derived: ONE put against a 3-index table builds 4
        # merge plans, and a downstream query fanning out over the
        # result (several scans unioned) replays each of them per
        # branch — the multi-index analog of the long checkand chain
        # AUTO_CHECKPOINT_EVERY was introduced for. With >= 2 indexes a
        # single mutation now truncates immediately; 0-1 indexes keep
        # the every-2-verbs cadence.
        out._verbs_since_checkpoint = self._verbs_since_checkpoint + max(
            1, len(self.indices.indices)
        )
        if (
            Table.AUTO_CHECKPOINT_EVERY
            and out._verbs_since_checkpoint >= Table.AUTO_CHECKPOINT_EVERY
        ):
            out = out.checkpoint(eager=False)
        return out

    def put(self, puts: DataFrame, order_col: Optional[str] = None) -> "Table":
        """Batch upsert. ``puts`` has the rowkey column + any subset of
        value columns; absent columns keep their old value (a Put writes
        only the cells it carries — Put.java:48).

        Repeated rowkeys in one batch collapse latest-non-null-wins per
        column, mirroring the reference where a batch applies in list
        order and the later cell timestamp wins (HRegion.batchMutate:2194,
        TestIndexRegionObserver.testBulkPutWithRepeatedRows:448). Order is
        ``order_col`` when given (the Put-timestamp analog — determinate
        under shuffles at any scale); otherwise DataFrame arrival order
        via monotonically_increasing_id, which follows the caller's row
        order for a freshly built batch but is partition-dependent for an
        arbitrary shuffled plan — pass ``order_col`` when it matters."""
        rk = self.rowkey_col
        if order_col is not None and order_col != rk and order_col in self.df.columns:
            # order_col is excluded from put_cols below; if it names a
            # REAL value column the caller almost certainly expected it
            # to be written too, and it would silently not be. Make them
            # disambiguate instead of dropping a cell.
            raise ValueError(
                f"order_col {order_col!r} is a value column of table "
                f"{self.name!r} and would be silently excluded from the "
                f"write; alias a copy in the batch (e.g. "
                f"withColumn('__ord', col({order_col!r}))) and pass the "
                f"alias as order_col to both order by it and write it"
            )
        put_cols = [c for c in puts.columns if c != rk and c != order_col]
        self._check_columns(put_cols, "put")
        # Collapse multi-puts on the same key: per column, the value from
        # the latest batch row where it was non-null. max_by skips rows
        # whose ordering key is NULL, so masking the seq with "value is
        # null" yields latest-NON-NULL in one map-side-combinable agg —
        # no window, no orderability constraint on the value type. The
        # seq itself rides inside a (seq IS NOT NULL, seq) struct: a row
        # whose ORDER_COL is NULL must still apply (it sorts below every
        # sequenced row; ties among NULL-seq rows are unordered, the
        # same caveat as the no-order_col path) — a bare NULL ordering
        # key would make max_by skip the row and silently drop its put.
        if order_col is None:
            # monotonically_increasing_id is never NULL, so the
            # (present, seq) struct wrapper below is pure overhead on the
            # common path — a bare long orders identically and max_by
            # compares primitives instead of allocating a struct per
            # row×column (this was a measured 25% sequential_write tax).
            puts0 = puts.withColumn("__put_seq", F.monotonically_increasing_id())
        else:
            seq = F.col(order_col)
            puts0 = puts.withColumn(
                "__put_seq", F.struct(seq.isNotNull().alias("p"), seq.alias("s"))
            )
        puts1 = puts0.groupBy(rk).agg(
            *[
                F.max_by(
                    F.col(c),
                    F.when(F.col(c).isNotNull(), F.col("__put_seq")),
                ).alias(c)
                for c in put_cols
            ]
        )
        return self._merge(
            puts1, put_cols, lambda c: F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")),
            change=puts1,
        )

    def _check_columns(self, cols, verb: str) -> None:
        unknown = [c for c in cols if c not in self.df.columns]
        if unknown:
            raise ValueError(
                f"{verb} columns not in table {self.name!r}: {unknown} "
                f"(table columns: {self.df.columns})"
            )

    def _merge(
        self, batch: DataFrame, batch_cols, value, change: DataFrame = None
    ) -> "Table":
        """The shared put/increment/append merge. ``batch`` is the verb's
        batch collapsed to one row per rowkey; ``value(c)`` is the verb's
        new value of column ``c`` over the "o" (old row) / "n" (batch
        row) aliases. Touched rows take ``value(c)`` for every batch
        column, everything else keeps its old value verbatim (an
        increment of an untouched row must not turn its NULL into 0).

        Index maintenance gets the new state of exactly the touched
        rows, computed apart from the table-wide merge: a semi-join
        cannot push through a full-outer join, so deriving it from the
        merged table would re-execute the whole merge per index. The old
        side is a COLUMN-PRUNED scan semi-joined down to the batch keys
        (broadcast at any table size — keys are the batch), merged with
        the batch by the same ``value`` — every row there is touched by
        construction. Its columns are the ones any index derives from,
        so a partial put still re-derives multi-column index rows from
        the surviving old values (idxtab_partial_put semantics,
        IndexUtils.prepareIndexPut:269-330); when a changelog needs the
        after-image of a computed mutation (no ``change`` delta) it
        spans every column, and each index build prunes back down."""
        rk = self.rowkey_col
        on = F.col(f"o.{rk}") == F.col(f"n.{rk}")
        touched = F.col(f"n.{rk}").isNotNull()
        joined = self.df.alias("o").join(batch.alias("n"), on, "full_outer")
        out_cols = [F.coalesce(F.col(f"o.{rk}"), F.col(f"n.{rk}")).alias(rk)]
        for c in self.df.columns:
            if c == rk:
                continue
            if c in batch_cols:
                out_cols.append(
                    F.when(touched, value(c)).otherwise(F.col(f"o.{c}")).alias(c)
                )
            else:
                out_cols.append(F.col(f"o.{c}").alias(c))

        needed = None
        if self._changelog is not None and change is None:
            needed = [c for c in self.df.columns if c != rk]
        elif self.indices.indices:
            needed = sorted(
                {q.column for s in self.indices.indices for q in s.columns} - {rk}
            )
        state = None
        if needed is not None:
            old_n = self.df.select(rk, *needed).join(batch.select(rk), rk, "left_semi")
            new_n = batch.select(rk, *[c for c in needed if c in batch_cols])
            state = old_n.alias("o").join(new_n.alias("n"), on, "full_outer").select(
                F.coalesce(F.col(f"o.{rk}"), F.col(f"n.{rk}")).alias(rk),
                *[
                    (value(c) if c in batch_cols else F.col(f"o.{c}")).alias(c)
                    for c in needed
                ],
            )
        return self._with_new_df(
            joined.select(*out_cols), batch.select(rk), state, change=change
        )

    def delete(self, rowkeys: DataFrame) -> "Table":
        """Whole-row deletes (Delete.java:69 with no family) — anti-join."""
        keys = rowkeys.select(self.rowkey_col).distinct()
        # deleted rows have NO new state: hand maintain_index an empty
        # narrow frame (folds to an empty LocalRelation) instead of a
        # semi-join over the anti-joined table, which re-scanned the
        # table just to prove there is nothing to re-index
        empty_state = (
            self.df.filter(F.lit(False)) if self.indices.indices else None
        )
        return self._with_new_df(
            self.df.join(keys, self.rowkey_col, "left_anti"), keys, empty_state,
            op="delete",
        )

    def delete_where(self, predicate: Column) -> "Table":
        keys = self.df.filter(predicate).select(self.rowkey_col)
        return self.delete(keys)

    def delete_columns(self, rowkeys: DataFrame, columns: Sequence[str]) -> "Table":
        """Column-level delete (Delete.addColumn, Delete.java:177): clear
        the named cells of the affected rows; other cells keep their
        values. A row left with NO cells ceases to exist (HBase rows are
        their cells — countNumberOfRows in TestIndexRegionObserver counts
        it gone).

        Index maintenance re-derives affected entries from the MERGED
        post-delete state (maintain_index), so an index spanning two
        families stays a projection of current data: entries whose
        leading indexed column was cleared drop out; entries whose
        leading column survives keep the row reachable. (The reference
        instead reconstructs and deletes the whole index row from the
        pre-delete state — IndexRegionObserver.getIndexDeletes:243-286 —
        which makes rows unreachable via an index whose OTHER family
        still holds data; the projection model keeps index scans
        consistent with main-table scans, which is what the oracle
        checks.)"""
        rk = self.rowkey_col
        cols = list(columns)
        bad = [c for c in cols if c == rk or c not in self.df.columns]
        if bad:
            raise ValueError(
                f"delete_columns targets not deletable in table {self.name!r}: {bad} "
                f"(table columns: {self.df.columns})"
            )
        keys = rowkeys.select(rk).distinct()
        marked = self.df.join(keys.withColumn("__hit", F.lit(True)), rk, "left")
        hit = F.coalesce(F.col("__hit"), F.lit(False))
        out_cols = [F.col(rk)]
        for c in self.df.columns:
            if c == rk:
                continue
            if c in cols:
                out_cols.append(
                    F.when(hit, F.lit(None).cast(self.df.schema[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            else:
                out_cols.append(F.col(c))
        # a row survives iff some cell survives the clear
        value_cols = [c for c in self.df.columns if c != rk]
        survives = F.lit(False)
        for c in value_cols:
            nn = F.col(c).isNotNull() if c not in cols else (~hit) & F.col(c).isNotNull()
            survives = survives | nn
        new_df = marked.filter((~hit) | survives).select(*out_cols)
        # Batch-bounded affected state for index maintenance + the
        # changelog after-image: the hit rows post-clear, minus rows
        # that died (no surviving cell) — computed from a semi-join of
        # the OLD table, never by re-probing the full marked plan.
        aff = self.df.join(keys, rk, "left_semi")
        aff_cols = [F.col(rk)] + [
            F.lit(None).cast(self.df.schema[c].dataType).alias(c)
            if c in cols
            else F.col(c)
            for c in value_cols
        ]
        aff_survives = F.lit(False)
        for c in value_cols:
            if c not in cols:
                aff_survives = aff_survives | F.col(c).isNotNull()
        aff_state = aff.filter(aff_survives).select(*aff_cols)
        return self._with_new_df(new_df, keys, aff_state, op="replace")

    def delete_family(self, rowkeys: DataFrame, family: str) -> "Table":
        """Family-level delete (Delete.addFamily, Delete.java:142): clear
        every member column ``<family>_<qualifier>`` of the affected
        rows. See ``delete_columns`` for index + row-existence
        semantics."""
        members = [c for c in self.df.columns if c.startswith(family + "_")]
        if not members:
            raise ValueError(
                f"table {self.name!r} has no columns of family {family!r} "
                f"(member columns are named '{family}_<qualifier>')"
            )
        return self.delete_columns(rowkeys, members)

    def increment(self, increments: DataFrame) -> "Table":
        """Atomic counter add (Increment.java:50 / HRegion.increment:5289):
        ``increments`` = rowkey + delta columns; new = coalesce(old,0)+delta.
        Creates the row if absent (reference semantics)."""
        rk = self.rowkey_col
        delta_cols = [c for c in increments.columns if c != rk]
        self._check_columns(delta_cols, "increment")
        incs = increments.groupBy(rk).agg(*[F.sum(c).alias(c) for c in delta_cols])
        return self._merge(
            incs,
            delta_cols,
            lambda c: F.coalesce(F.col(f"o.{c}"), F.lit(0))
            + F.coalesce(F.col(f"n.{c}"), F.lit(0)),
        )

    def append(self, appends: DataFrame) -> "Table":
        """Atomic value append (Append.java:44 / HRegion.append:5096):
        string concat of old value and appended suffix."""
        rk = self.rowkey_col
        app_cols = [c for c in appends.columns if c != rk]
        self._check_columns(app_cols, "append")
        apps = appends.groupBy(rk).agg(
            *[F.concat_ws("", F.collect_list(c)).alias(c) for c in app_cols]
        )
        return self._merge(
            apps,
            app_cols,
            lambda c: F.concat(
                F.coalesce(F.col(f"o.{c}"), F.lit("")),
                F.coalesce(F.col(f"n.{c}"), F.lit("")),
            ),
        )

    def increment_and_get(self, increments: DataFrame) -> Tuple["Table", DataFrame]:
        """Increment.java:50 returns the NEW values in a Result — same
        contract: (new table, the affected rows' new state)."""
        out = self.increment(increments)
        keys = increments.select(self.rowkey_col).distinct()
        return out, out.df.join(keys, self.rowkey_col, "left_semi")

    def append_and_get(self, appends: DataFrame) -> Tuple["Table", DataFrame]:
        """Append.java:44 returns the appended Result (returnResults)."""
        out = self.append(appends)
        keys = appends.select(self.rowkey_col).distinct()
        return out, out.df.join(keys, self.rowkey_col, "left_semi")

    def check_and_put(
        self, check_column: str, op: str, check_value: Any, puts: DataFrame
    ) -> "Table":
        """Conditional put (HTable.checkAndPut:1153): apply each put iff
        the row's current ``check_column`` <op> ``check_value`` (missing
        column = fail, unless checking for NULL — the conditional-insert
        idiom). A specialization of check_and_mutate."""
        return self.check_and_mutate(check_column, op, check_value, puts=puts)

    def check_and_delete(
        self, check_column: str, op: str, check_value: Any, rowkeys: DataFrame
    ) -> "Table":
        """Conditional delete (HTable.checkAndDelete:1181)."""
        return self.check_and_mutate(check_column, op, check_value, deletes=rowkeys)

    def mutate_row(self, puts: Optional[DataFrame] = None, deletes: Optional[DataFrame] = None) -> "Table":
        """RowMutations (RowMutations.java:42): atomic multi-mutation —
        one batch job applies both, so readers of the output snapshot see
        all or nothing (batch-snapshot atomicity)."""
        out = self
        if deletes is not None:
            out = out.delete(deletes)
        if puts is not None:
            out = out.put(puts)
        return out

    def check_and_mutate(
        self,
        check_column: str,
        op: str,
        check_value: Any,
        puts: Optional[DataFrame] = None,
        deletes: Optional[DataFrame] = None,
    ) -> "Table":
        """Generic conditional RowMutations (HRegion.checkAndMutate:2716):
        rows whose CURRENT ``check_column`` <op> ``check_value`` get both
        their puts and deletes applied (deletes first, the RowMutations
        order); rows failing the check are untouched. The gate is
        evaluated against the pre-batch snapshot for every mutation —
        the atomicity the reference gets from the row lock.
        ``check_value=None`` gates on ABSENCE of the checked cell (the
        conditional-insert idiom, including wholly absent rows)."""
        from hindex_spark.filters import _apply_op

        rk = self.rowkey_col
        if check_value is None:
            blocked = self.df.filter(F.col(check_column).isNotNull()).select(rk)
            g_puts = puts.join(blocked, rk, "left_anti") if puts is not None else None
            g_dels = deletes.join(blocked, rk, "left_anti") if deletes is not None else None
        else:
            cond = _apply_op(F.col(check_column), op, F.lit(check_value)) & F.col(
                check_column
            ).isNotNull()
            eligible = self.df.filter(cond).select(rk)
            g_puts = puts.join(eligible, rk, "left_semi") if puts is not None else None
            g_dels = deletes.join(eligible, rk, "left_semi") if deletes is not None else None
        return self.mutate_row(puts=g_puts, deletes=g_dels)

    def batch(self, ops: DataFrame) -> Tuple["Table", DataFrame]:
        """Mixed batch with per-action status (HTable.java:812-832: batch
        returns an Object[] of per-action results). ``ops`` carries an
        ``op`` column ('get'|'put'|'delete') + the rowkey + any value
        columns (used by puts). Returns ``(new_table, results)`` where
        ``results`` has one row per action: (op, rowkey, ok, <table
        columns>) — gets carry the row they read (ok=false when the row
        is absent, the null-Result analog) evaluated against the
        pre-batch snapshot; mutations report ok=true (the batch engine's
        failure modes — unknown columns — raise before anything runs,
        matching the all-or-nothing of one Spark job)."""
        rk = self.rowkey_col
        value_cols = [c for c in ops.columns if c not in (rk, "op")]
        self._check_columns(value_cols, "batch")
        # ONE job validates op kinds and answers both emptiness checks
        # (three separate isEmpty() actions would recompute ops' upstream
        # plan three times)
        op_counts = {
            r["op"]: r["n"]
            for r in ops.groupBy("op").agg(F.count("*").alias("n")).collect()
        }
        bad = sorted(k for k in op_counts if k not in ("get", "put", "delete"))
        if bad:
            raise ValueError(f"unsupported batch ops: {bad}")
        out = self
        if op_counts.get("delete"):
            out = out.delete(ops.filter(F.col("op") == "delete").select(rk))
        if op_counts.get("put"):
            out = out.put(ops.filter(F.col("op") == "put").select(rk, *value_cols))
        pre = self.df.alias("t")
        actions = ops.select("op", rk).alias("a")
        results = (
            actions.join(pre, F.col(f"a.{rk}") == F.col(f"t.{rk}"), "left")
            .select(
                F.col("a.op").alias("op"),
                F.col(f"a.{rk}").alias(rk),
                F.when(F.col("op") != "get", F.lit(True))
                .otherwise(F.col(f"t.{rk}").isNotNull())
                .alias("ok"),
                *[
                    F.when(F.col("a.op") == "get", F.col(f"t.{c}")).alias(c)
                    for c in self.df.columns
                    if c != rk
                ],
            )
        )
        return out, results


class CellTable:
    """Versioned cell-layer table (the full HBase fidelity surface:
    dynamic qualifiers, multi-versions, tombstone kinds, TTL).

    Backed by the cell DataFrame of cells.py; ``snapshot_wide`` resolves
    to the typed table layer. Used where version semantics matter; the
    wide ``Table`` is the fast path."""

    def __init__(self, spark: SparkSession, cells: Optional[DataFrame] = None, name: str = "celltab"):
        self.spark = spark
        self.cells = cells if cells is not None else cell_mod.empty_cells(spark)
        self.name = name

    def put_cells(self, rows: Sequence[tuple]) -> "CellTable":
        """rows: (rowkey, cf, qualifier, ts, value)."""
        df = cell_mod.cells_from_rows(
            self.spark, [(r, c, q, t, cell_mod.PUT, v) for (r, c, q, t, v) in rows]
        )
        return CellTable(self.spark, self.cells.unionByName(df), self.name)

    def delete_cells(self, rows: Sequence[tuple]) -> "CellTable":
        """rows: (rowkey, cf, qualifier, ts, op) with op one of the
        delete_* codes; qualifier/cf may be None for wider scopes."""
        df = cell_mod.cells_from_rows(
            self.spark, [(r, c, q, t, op, None) for (r, c, q, t, op) in rows]
        )
        return CellTable(self.spark, self.cells.unionByName(df), self.name)

    def read(
        self,
        max_versions=1,          # int | {cf: int} (HColumnDescriptor.setMaxVersions)
        time_range: Optional[Tuple[int, int]] = None,
        ttl=None,                # int | {cf: int} (HColumnDescriptor.setTimeToLive)
        now: Optional[int] = None,
        raw: bool = False,
    ) -> DataFrame:
        return cell_mod.resolve(self.cells, max_versions, time_range, ttl, now, raw)

    def snapshot_wide(self, columns: Sequence[Tuple[str, str]], rowkey_col: str = "rowkey") -> DataFrame:
        return cell_mod.to_wide(self.read(max_versions=1), columns, rowkey_col)

    def as_table(self, columns: Sequence[Tuple[str, str]], rowkey_col: str = "rowkey") -> Table:
        """Materialize the latest-version wide view as a queryable Table
        (scan/filter/index/aggregate over versioned data)."""
        return Table(self.snapshot_wide(columns, rowkey_col), rowkey_col, self.name)

    def rows_matching_any_version(
        self,
        cf: str,
        qualifier: str,
        op: str,
        value: Any,
        max_versions: int = 10,
    ) -> DataFrame:
        """SingleColumnValueFilter with latestVersionOnly=FALSE
        (SingleColumnValueFilter.java:74): a row qualifies if ANY visible
        version of (cf, qualifier) satisfies the condition — not just the
        newest. Returns the distinct qualifying rowkeys (semi-join them
        with any view of the table)."""
        from hindex_spark.filters import _apply_op

        visible = self.read(max_versions=max_versions)
        hit = visible.filter(
            (F.col("cf") == cf)
            & (F.col("qualifier") == qualifier)
            & _apply_op(F.col("value"), op, F.lit(value))
        )
        return hit.select("rowkey").distinct()

    def compact(self, max_versions: int = 1, ttl: Optional[int] = None, now: Optional[int] = None) -> "CellTable":
        return CellTable(self.spark, cell_mod.compact(self.cells, max_versions, ttl, now), self.name)
