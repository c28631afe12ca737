"""The reference's filter algebra, re-expressed as Spark Column builders.

Reference: /root/reference/hbase-client/src/main/java/org/apache/hadoop/hbase/filter/
(base contract Filter.java:58; boolean trees FilterList.java:56; string DSL
ParseFilter.java:52). Each filter here compiles to a pyspark Column
expression so Catalyst pushes it into the parquet scan — the Spark analog
of HBase pushing Filters to region servers.

Two evaluation surfaces:
  * wide table layer (one row per rowkey, typed columns) — row filters,
    SingleColumnValueFilter and friends: ``Filter.predicate(table)``;
  * cell layer (rowkey/cf/qualifier/ts/value rows) — qualifier/column
    filters: ``Filter.cell_predicate()`` or ``apply_cells``.

Filters that are not pure predicates (PageFilter -> limit, SkipFilter /
WhileMatchFilter -> windowed take-while) override ``apply``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Compare ops & comparators (CompareFilter.java:49 and filter/*Comparator.java)
# ---------------------------------------------------------------------------

LESS = "<"
LESS_OR_EQUAL = "<="
EQUAL = "="
NOT_EQUAL = "!="
GREATER_OR_EQUAL = ">="
GREATER = ">"
NO_OP = "no_op"

_OPS = {LESS, LESS_OR_EQUAL, EQUAL, NOT_EQUAL, GREATER_OR_EQUAL, GREATER, NO_OP}


def _apply_op(col: Column, op: str, rhs: Any) -> Column:
    if op == LESS:
        return col < rhs
    if op == LESS_OR_EQUAL:
        return col <= rhs
    if op == EQUAL:
        return col == rhs
    if op == NOT_EQUAL:
        return col != rhs
    if op == GREATER_OR_EQUAL:
        return col >= rhs
    if op == GREATER:
        return col > rhs
    if op == NO_OP:
        return F.lit(False)
    raise ValueError(f"unknown compare op {op!r}")


class Comparator:
    """RHS of a CompareFilter. compare(col, op) -> Column predicate."""

    def compare(self, col: Column, op: str) -> Column:  # pragma: no cover
        raise NotImplementedError


@dataclass
class BinaryComparator(Comparator):
    """Typed value comparison (BinaryComparator.java — memcmp on bytes;
    here the column is typed so native ordering applies)."""

    value: Any

    def compare(self, col: Column, op: str) -> Column:
        return _apply_op(col, op, F.lit(self.value))


@dataclass
class BinaryPrefixComparator(Comparator):
    """Compare only the leading prefix (BinaryPrefixComparator.java)."""

    prefix: str

    def compare(self, col: Column, op: str) -> Column:
        truncated = F.substring(col.cast("string"), 1, len(self.prefix))
        return _apply_op(truncated, op, F.lit(self.prefix))


@dataclass
class NullComparator(Comparator):
    """NullComparator.java — EQUAL means IS NULL."""

    def compare(self, col: Column, op: str) -> Column:
        if op == EQUAL:
            return col.isNull()
        if op == NOT_EQUAL:
            return col.isNotNull()
        raise ValueError("NullComparator only supports =/!=")


@dataclass
class RegexStringComparator(Comparator):
    """RegexStringComparator.java — EQUAL = matches, NOT_EQUAL = not."""

    pattern: str

    def compare(self, col: Column, op: str) -> Column:
        m = col.cast("string").rlike(self.pattern)
        if op == EQUAL:
            return m
        if op == NOT_EQUAL:
            return ~m
        raise ValueError("RegexStringComparator only supports =/!=")


@dataclass
class SubstringComparator(Comparator):
    """SubstringComparator.java — case-insensitive contains."""

    substr: str

    def compare(self, col: Column, op: str) -> Column:
        m = F.lower(col.cast("string")).contains(self.substr.lower())
        if op == EQUAL:
            return m
        if op == NOT_EQUAL:
            return ~m
        raise ValueError("SubstringComparator only supports =/!=")


@dataclass
class BitComparator(Comparator):
    """BitComparator.java — bitwise AND/OR/XOR mask vs value; EQUAL means
    masked result is non-zero (matches reference: compareTo==0 iff result
    non-zero for at least one byte)."""

    mask: int
    bit_op: str = "and"  # and | or | xor

    def compare(self, col: Column, op: str) -> Column:
        # try_cast, not cast: one unparseable value in a string column
        # would otherwise abort the whole scan under ANSI mode (Spark 4
        # default). NULL compares to nothing, so the row is excluded —
        # the typed analog of the reference comparing raw bytes.
        c = col.try_cast("long")
        if self.bit_op == "and":
            res = c.bitwiseAND(F.lit(self.mask))
        elif self.bit_op == "or":
            res = c.bitwiseOR(F.lit(self.mask))
        elif self.bit_op == "xor":
            res = c.bitwiseXOR(F.lit(self.mask))
        else:
            raise ValueError(f"bad bit_op {self.bit_op}")
        nz = res != 0
        if op == EQUAL:
            return nz
        if op == NOT_EQUAL:
            return ~nz
        raise ValueError("BitComparator only supports =/!=")


@dataclass
class LongComparator(Comparator):
    value: int

    def compare(self, col: Column, op: str) -> Column:
        # try_cast: see BitComparator — a bad value must not abort the scan
        return _apply_op(col.try_cast("long"), op, F.lit(self.value))


def _as_comparator(v: Any) -> Comparator:
    return v if isinstance(v, Comparator) else BinaryComparator(v)


# ---------------------------------------------------------------------------
# Index-planning IR: the planner consumes a normalized condition tree
# (mirrors FilterNode trees in ScanFilterEvaluator.java:463-485)
# ---------------------------------------------------------------------------


@dataclass
class Leaf:
    """One (column, op, value) condition usable for index selection."""

    column: str  # wide-table column name, e.g. "cf1_c1" or "o_custkey"
    op: str
    value: Any


@dataclass
class AndNode:
    children: list


@dataclass
class OrNode:
    children: list


NON_INDEXABLE = object()  # sentinel: subtree cannot use an index


# ---------------------------------------------------------------------------
# Filter base
# ---------------------------------------------------------------------------


class Filter:
    """Base filter. ``predicate`` -> Column over the wide table;
    ``apply`` -> transformed DataFrame (default: df.filter(predicate))."""

    def predicate(self, table) -> Column:
        raise NotImplementedError(f"{type(self).__name__} has no row predicate")

    def apply(self, df: DataFrame, table) -> DataFrame:
        return df.filter(self.predicate(table))

    def index_tree(self, table):
        """Condition tree for the index planner; NON_INDEXABLE default."""
        return NON_INDEXABLE

    def branch_cond(self, df: DataFrame, table, gate: Column, tag: str):
        """(df', cond, helper_cols): ``cond`` is a boolean Column selecting
        exactly the rows this filter ALONE would keep, given that it only
        'sees' rows where ``gate`` holds — the per-member evaluation
        FilterList MUST_PASS_ONE needs (FilterList.java:178-200: every OR
        member observes the full cell stream and keeps its own positional
        state). Stateful filters override this to materialize their state
        as window/aggregate helper columns on df' (names in helper_cols,
        dropped by the caller). Default: a row-faithful filter's branch is
        its predicate; an UNKNOWN apply()-override without its own
        branch_cond is refused loudly rather than silently over-selected
        through a lit(True) predicate."""
        if FilterList._row_faithful(self):
            return df, self.predicate(table), []
        raise NotImplementedError(
            f"{type(self).__name__} under FilterList MUST_PASS_ONE has "
            f"apply() behavior not expressible as a per-row branch condition"
        )


def _resolve(table, column: str) -> Column:
    """Map a column name through the table's resolver if present."""
    if table is not None and hasattr(table, "resolve_column"):
        return table.resolve_column(column)
    return F.col(column)


def _rowkey_name(table) -> str:
    """The table's rowkey column name; ``"rowkey"`` on the cell layer."""
    if table is not None and hasattr(table, "rowkey_col"):
        return table.rowkey_col
    return "rowkey"


def _rowkey(table) -> Column:
    return F.col(_rowkey_name(table))


# ---------------------------------------------------------------------------
# Row-level filters (wide table layer)
# ---------------------------------------------------------------------------


@dataclass
class RowFilter(Filter):
    """RowFilter.java:49 — compare the rowkey."""

    op: str
    comparator: Any

    def predicate(self, table) -> Column:
        return _as_comparator(self.comparator).compare(_rowkey(table), self.op)


@dataclass
class SingleColumnValueFilter(Filter):
    """SingleColumnValueFilter.java:74 — the workhorse row filter.

    Keep the row iff ``column <op> comparator``. filter_if_missing=False
    (reference default) keeps rows where the column is NULL.
    """

    column: str
    op: str
    comparator: Any
    filter_if_missing: bool = False
    latest_version_only: bool = True

    def predicate(self, table) -> Column:
        col = _resolve(table, self.column)
        pred = _as_comparator(self.comparator).compare(col, self.op)
        if not self.filter_if_missing:
            pred = col.isNull() | pred
        return pred

    def index_tree(self, table):
        if isinstance(self.comparator, Comparator) and not isinstance(
            self.comparator, BinaryComparator
        ):
            return NON_INDEXABLE  # regex/substring/bit are not range-indexable
        if not self.filter_if_missing:
            # NULL rows must survive — an index range scan would drop them.
            return NON_INDEXABLE
        if self.op in (EQUAL, LESS, LESS_OR_EQUAL, GREATER, GREATER_OR_EQUAL):
            v = (
                self.comparator.value
                if isinstance(self.comparator, BinaryComparator)
                else self.comparator
            )
            return Leaf(self.column, self.op, v)
        return NON_INDEXABLE


@dataclass
class SingleColumnValueExcludeFilter(SingleColumnValueFilter):
    """SingleColumnValueExcludeFilter.java:46 — filter then drop the
    tested column from the output."""

    def apply(self, df: DataFrame, table) -> DataFrame:
        out = df.filter(self.predicate(table))
        return out.drop(self.column)


@dataclass
class SingleColumnValuePartitionFilter(SingleColumnValueFilter):
    """index/filter/SingleColumnValuePartitionFilter.java:57 — the
    client-visible predicate on a PART of a value (a separator piece or
    byte substring). ``column`` is the physical column; the partition
    expression is recomputed for the residual filter, while the planner
    sees the derived indexed name and can probe a matching expression
    index. Equivalent to SingleColumnValueFilter on the derived name —
    this named form exists so callers need not know the naming scheme."""

    value_partition: Any = None

    def _derived_name(self) -> str:
        from hindex_spark.index.spec import ColumnQualifier

        return ColumnQualifier(self.column, value_partition=self.value_partition).indexed_name

    def predicate(self, table) -> Column:
        col = self.value_partition.expr(_resolve(table, self.column).cast("string"))
        pred = _as_comparator(self.comparator).compare(col, self.op)
        if not self.filter_if_missing:
            pred = col.isNull() | pred
        return pred

    def index_tree(self, table):
        return SingleColumnValueFilter(
            self._derived_name(),
            self.op,
            self.comparator,
            self.filter_if_missing,
            self.latest_version_only,
        ).index_tree(table)


@dataclass
class SingleColumnRangeFilter(Filter):
    """index/filter/SingleColumnRangeFilter.java — the planner's internal
    lower+upper bound form on one column."""

    column: str
    lower: Any = None
    lower_inclusive: bool = True
    upper: Any = None
    upper_inclusive: bool = False

    def predicate(self, table) -> Column:
        col = _resolve(table, self.column)
        pred = F.lit(True)
        if self.lower is not None:
            pred = pred & (col >= self.lower if self.lower_inclusive else col > self.lower)
        if self.upper is not None:
            pred = pred & (col <= self.upper if self.upper_inclusive else col < self.upper)
        return pred

    def index_tree(self, table):
        kids = []
        if self.lower is not None:
            kids.append(
                Leaf(self.column, GREATER_OR_EQUAL if self.lower_inclusive else GREATER, self.lower)
            )
        if self.upper is not None:
            kids.append(
                Leaf(self.column, LESS_OR_EQUAL if self.upper_inclusive else LESS, self.upper)
            )
        if not kids:
            return NON_INDEXABLE
        return kids[0] if len(kids) == 1 else AndNode(kids)


@dataclass
class PrefixFilter(Filter):
    """PrefixFilter.java:40 — rowkey starts-with (range-prunable)."""

    prefix: str

    def predicate(self, table) -> Column:
        return _rowkey(table).cast("string").startswith(self.prefix)


@dataclass
class InclusiveStopFilter(Filter):
    """InclusiveStopFilter.java — scan stops at stop row inclusive.
    ``reverse`` (set by Table.scan for reversed scans) flips the bound:
    a reversed scan walks DOWN, so it stops at rows below stop_row."""

    stop_row: Any
    reverse: bool = False

    def predicate(self, table) -> Column:
        rk = _rowkey(table)
        if self.reverse:
            return rk >= F.lit(self.stop_row)
        return rk <= F.lit(self.stop_row)


@dataclass
class FuzzyRowFilter(Filter):
    """FuzzyRowFilter.java:68 — rowkey pattern with fixed and wildcard
    positions. ``pattern`` uses '?' for any-char; compiled to a regex
    anchored both ends.

    Prunability: the reference seeks past non-matching regions using
    fixed byte positions (FuzzyRowFilter.getNextCellHint). The Spark
    analog: a fixed LEADING prefix (chars before the first '?') becomes
    a ``prefix <= rk < prefix-successor`` range conjunct alongside the
    regex, so the comparisons reach the parquet scan as PushedFilters
    and row-group min/max pruning skips the non-matching bulk — without
    it, a fuzzy scan reads every rowkey at 100 TB. Applied only when the
    rowkey column is a string (a cast would block pushdown); the regex
    stays authoritative for correctness either way."""

    pattern: str

    def predicate(self, table) -> Column:
        import re as _re

        rx = "^" + "".join(
            "." if ch == "?" else _re.escape(ch) for ch in self.pattern
        ) + "$"
        rk = _rowkey(table)
        pred = rk.cast("string").rlike(rx)
        prefix = self.pattern.split("?", 1)[0]
        if prefix and table is not None and hasattr(table, "df"):
            from pyspark.sql.types import StringType

            try:
                dtype = table.df.schema[table.rowkey_col].dataType
            except Exception:
                dtype = None
            if isinstance(dtype, StringType):
                pred = (rk >= F.lit(prefix)) & pred
                last = ord(prefix[-1])
                # successor string = prefix with last char +1; skip at
                # the surrogate/codepoint boundaries (prefix bound alone
                # still prunes everything below the range)
                if last < 0xD7FF or 0xE000 <= last < 0x10FFFF:
                    pred = (rk < F.lit(prefix[:-1] + chr(last + 1))) & pred
        return pred


@dataclass
class TimestampsFilter(Filter):
    """TimestampsFilter.java — version timestamp in an explicit set."""

    timestamps: Sequence[Any]
    ts_column: str = "ts"

    def predicate(self, table) -> Column:
        return _resolve(table, self.ts_column).isin(list(self.timestamps))


@dataclass
class RandomRowFilter(Filter):
    """RandomRowFilter.java — Bernoulli row sample with chance p.
    Deterministic via seed (reference uses Random per region)."""

    chance: float
    seed: int = 42

    def predicate(self, table) -> Column:
        return F.rand(self.seed) < self.chance

    def apply(self, df: DataFrame, table) -> DataFrame:
        # ONE sampling mechanism for both plan shapes: applied standalone
        # and evaluated via predicate() inside a FilterList must select
        # the same rows (df.sample uses a different Bernoulli draw than
        # rand(seed), which broke cross-shape reproducibility).
        return df.filter(self.predicate(table))


@dataclass
class PageFilter(Filter):
    """PageFilter.java:42 — stop after N rows. The reference counts rows
    in scan order (per region; a plain scan visits regions in rowkey
    order, so the single-client contract is "the first N rows of the
    scan" = the N smallest rowkeys). Modeled exactly that way here, so
    the kept-set is DETERMINISTIC — both standalone and as a
    MUST_PASS_ONE branch (TestFilterList.testOrdering composes
    OR(PrefixFilter, PageFilter): prefix rows keep passing after the
    page branch is exhausted). Cost: one TakeOrdered of N keys + a
    broadcast of the single boundary key — bounded by the page size, not
    the table. ``reverse`` (set by Table.scan for reversed scans) pages
    from the TOP key downward — scan order is scan order."""

    page_size: int
    reverse: bool = False

    def _boundary(self, df: DataFrame, table, pred: Column, tag: str):
        """(df', cond, helpers): cond = 'this row is among the first
        ``page_size`` distinct rowkeys satisfying ``pred``' in scan
        direction (distinct: on the cell layer a row is all its cells;
        the reference counts ROWS, not cells)."""
        key = _rowkey_name(table)
        h = f"__pg_{tag}"
        keyed = df.filter(pred).select(key).distinct()
        if self.reverse:
            kth = keyed.orderBy(F.col(key).desc()).limit(self.page_size).agg(
                F.min(key).alias(h)
            )
        else:
            kth = keyed.orderBy(key).limit(self.page_size).agg(F.max(key).alias(h))
        out = df.join(F.broadcast(kth))
        cmp = F.col(key) >= F.col(h) if self.reverse else F.col(key) <= F.col(h)
        cond = F.col(h).isNotNull() & cmp
        return out, cond, [h]

    def apply(self, df: DataFrame, table) -> DataFrame:
        out, cond, helpers = self._boundary(df, table, F.lit(True), "a")
        return out.filter(cond).drop(*helpers)

    def predicate(self, table) -> Column:
        return F.lit(True)

    def branch_cond(self, df, table, gate, tag):
        # first N rows this member SAW (gate) in scan order
        return self._boundary(df, table, gate, tag)


@dataclass
class KeyOnlyFilter(Filter):
    """KeyOnlyFilter.java — strip values, keep keys."""

    def apply(self, df: DataFrame, table) -> DataFrame:
        key = _rowkey_name(table)
        return df.select(key)

    def predicate(self, table) -> Column:
        return F.lit(True)


@dataclass
class FirstKeyOnlyFilter(Filter):
    """FirstKeyOnlyFilter.java — first cell per row; used for fast row
    counting. Wide-layer analog: distinct rowkeys."""

    def apply(self, df: DataFrame, table) -> DataFrame:
        key = _rowkey_name(table)
        return df.select(key).distinct()

    def predicate(self, table) -> Column:
        return F.lit(True)


@dataclass
class FirstKeyValueMatchingQualifiersFilter(FirstKeyOnlyFilter):
    """FirstKeyValueMatchingQualifiersFilter.java:50 — the RowCounter
    row-counting optimization: emit one key per row that HAS at least one
    of the given qualifiers. On the cell layer this is the distinct
    rowkeys owning a matching qualifier; on the wide layer, rows where
    any of the named columns is non-null. (The reference's caveat — it
    may emit earlier non-matching KVs — is a streaming artifact with no
    analog here; the useful contract is the row count.)"""

    qualifiers: Sequence[str] = ()

    def apply(self, df: DataFrame, table) -> DataFrame:
        if "qualifier" in df.columns:  # cell layer
            key = "rowkey"
            return df.filter(F.col("qualifier").isin(list(self.qualifiers))).select(key).distinct()
        key = _rowkey_name(table)
        present = [c for c in self.qualifiers if c in df.columns]
        if not present:
            return df.select(key).filter(F.lit(False))
        cond = F.col(present[0]).isNotNull()
        for c in present[1:]:
            cond = cond | F.col(c).isNotNull()
        return df.filter(cond).select(key).distinct()

    def predicate(self, table) -> Column:
        # tolerate unknown qualifiers exactly like apply(): an absent
        # column can never match, it must not blow up FilterList
        # evaluation with an unresolvable reference
        names = list(self.qualifiers)
        if table is not None and hasattr(table, "df"):
            names = [c for c in names if c in table.df.columns]
        cond = F.lit(False)
        for c in names:
            cond = cond | _resolve(table, c).isNotNull()
        return cond


@dataclass
class SkipFilter(Filter):
    """SkipFilter.java — drop the whole row if the wrapped filter would
    drop any cell of it. Wide-layer: the wrapped predicate must hold on
    every (non-null) tested column -> same as the predicate itself for
    single-column tests; kept for DSL parity."""

    inner: Filter

    def predicate(self, table) -> Column:
        return self.inner.predicate(table)


@dataclass
class WhileMatchFilter(Filter):
    """WhileMatchFilter.java — scan until the wrapped filter first fails
    (take-while over the rowkey-sorted stream). Implemented as a running
    min over rowkey order; ``reverse`` (set by Table.scan for reversed
    scans) takes-while from the TOP key downward instead, matching the
    reference where the filter sees rows in scan direction."""

    inner: Filter
    reverse: bool = False

    def _bound(self, df: DataFrame, table, pred: Column, tag: str):
        """(df', cond, helpers): rows strictly before the FIRST failing
        row in scan direction, via a single-row min/max aggregate of
        failing keys plus a broadcast range filter — fully parallel (a
        running-min window would serialize the table through one
        partition at scale)."""
        key = _rowkey_name(table)
        h = f"__ff_{tag}"
        agg = F.max(key) if self.reverse else F.min(key)
        first_fail = df.filter(pred & ~self.inner.predicate(table)).agg(agg.alias(h))
        out = df.join(F.broadcast(first_fail))
        cmp = F.col(key) > F.col(h) if self.reverse else F.col(key) < F.col(h)
        cond = F.col(h).isNull() | cmp
        return out, cond, [h]

    def apply(self, df: DataFrame, table) -> DataFrame:
        out, cond, helpers = self._bound(df, table, F.lit(True), "w")
        return out.filter(cond).drop(*helpers)

    def predicate(self, table) -> Column:
        return self.inner.predicate(table)

    def branch_cond(self, df, table, gate, tag):
        # Branch kept-set = rows strictly before the first row this member
        # SAW (gate) that fails the wrapped predicate.
        return self._bound(df, table, gate, tag)


@dataclass
class FilterList(Filter):
    """FilterList.java:56 — boolean tree; MUST_PASS_ALL=AND,
    MUST_PASS_ONE=OR, nestable."""

    operator: str  # "AND" | "OR"
    filters: list = field(default_factory=list)

    MUST_PASS_ALL = "AND"
    MUST_PASS_ONE = "OR"

    def add(self, f: Filter) -> "FilterList":
        self.filters.append(f)
        return self

    def predicate(self, table) -> Column:
        preds = [f.predicate(table) for f in self.filters]
        if not preds:
            return F.lit(True)
        out = preds[0]
        for p in preds[1:]:
            out = (out & p) if self.operator == "AND" else (out | p)
        return out

    @staticmethod
    def _row_faithful(f: "Filter") -> bool:
        """True iff ``f.predicate`` selects exactly the rows ``f.apply``
        would keep. DEFAULT-CLOSED: a filter that overrides ``apply`` is
        only trusted if it is on the explicit allowlist of overrides
        known to merely project columns or reuse their own predicate
        (``_PREDICATE_FAITHFUL_OVERRIDES``). Stateful filters —
        PageFilter's count prefix (predicate lit(True)), WhileMatch's
        take-while, positional cell pagination — fall out automatically
        and are routed to branch_cond evaluation under MUST_PASS_ONE;
        any FUTURE subclass with hidden apply() behavior and no
        branch_cond gets the loud refusal instead of a silent
        predicate-union over-selection."""
        if isinstance(f, FilterList):
            return all(FilterList._row_faithful(g) for g in f.filters)
        if isinstance(f, SkipFilter):
            return FilterList._row_faithful(f.inner)
        if type(f).apply is Filter.apply:
            return True  # pure predicate filter — apply IS df.filter(predicate)
        return isinstance(f, _PREDICATE_FAITHFUL_OVERRIDES)

    def apply(self, df: DataFrame, table) -> DataFrame:
        # MUST_PASS_ALL composes members sequentially in DECLARED order
        # (FilterListWithAND evaluates in list order with short-circuit:
        # a stateful member placed before a predicate sees pre-filter
        # rows). Catalyst collapses the adjacent pure-predicate filter
        # nodes, so strict order costs nothing over batching them.
        if self.operator == "AND":
            out = df
            for f in self.filters:
                out = f.apply(out, table)
            return out
        lying = [f for f in self.filters if not FilterList._row_faithful(f)]
        if not lying:
            return df.filter(self.predicate(table))
        # Positional/stateful members (PageFilter, ColumnPagination,
        # ColumnCountGet, DependentColumn, WhileMatch, nested lists of
        # them) ARE evaluable under MUST_PASS_ONE: each member's kept-set
        # is computed per-branch over the full row stream — its
        # positional state materialized as window/aggregate helper
        # columns — and the branch conditions are OR-ed in one pass
        # (FilterList.java:178-200 evaluation order: every OR member
        # observes every cell). Only an unknown apply()-override with no
        # branch_cond still refuses, from the default branch_cond.
        out, cond, helpers = self.branch_cond(df, table, F.lit(True), "b")
        out = out.filter(cond)
        return out.drop(*helpers) if helpers else out

    def branch_cond(self, df, table, gate, tag):
        helpers: list = []
        if self.operator == "AND":
            # Sequential short-circuit semantics (FilterListWithAND:
            # members after a rejecting one do not see the cell), so each
            # member's gate is the conjunction of everything before it —
            # a stateful member only counts cells that survived its
            # predecessors, matching apply()'s sequential composition.
            g = gate
            for i, f in enumerate(self.filters):
                df, c, hs = f.branch_cond(df, table, g, f"{tag}a{i}")
                helpers += hs
                g = g & c
            return df, g, helpers
        conds = []
        for i, f in enumerate(self.filters):
            df, c, hs = f.branch_cond(df, table, gate, f"{tag}o{i}")
            helpers += hs
            conds.append(c)
        if not conds:
            return df, F.lit(True), helpers
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        return df, cond, helpers

    def index_tree(self, table):
        kids = [f.index_tree(table) for f in self.filters]
        if self.operator == "AND":
            # AND can ignore non-indexable members (they stay as residual
            # predicates) as long as at least one child is indexable.
            usable = [k for k in kids if k is not NON_INDEXABLE]
            if not usable:
                return NON_INDEXABLE
            return usable[0] if len(usable) == 1 else AndNode(usable)
        # OR is all-or-nothing (ScanFilterEvaluator.handleORCondition:506-526)
        if any(k is NON_INDEXABLE for k in kids) or not kids:
            return NON_INDEXABLE
        return kids[0] if len(kids) == 1 else OrNode(kids)


# --- cell-layer filters -----------------------------------------------------


@dataclass
class FamilyFilter(Filter):
    """FamilyFilter.java:49 — compare the column family (cell layer)."""

    op: str
    comparator: Any

    def cell_predicate(self) -> Column:
        return _as_comparator(self.comparator).compare(F.col("cf"), self.op)

    def apply(self, df: DataFrame, table) -> DataFrame:
        return df.filter(self.cell_predicate())

    def predicate(self, table) -> Column:
        return self.cell_predicate()


@dataclass
class QualifierFilter(Filter):
    """QualifierFilter.java:50 — compare the qualifier (cell layer)."""

    op: str
    comparator: Any

    def predicate(self, table) -> Column:
        return _as_comparator(self.comparator).compare(F.col("qualifier"), self.op)


@dataclass
class ColumnPrefixFilter(Filter):
    """ColumnPrefixFilter.java — qualifier starts-with."""

    prefix: str

    def predicate(self, table) -> Column:
        return F.col("qualifier").startswith(self.prefix)


@dataclass
class MultipleColumnPrefixFilter(Filter):
    """MultipleColumnPrefixFilter.java — qualifier matches any prefix."""

    prefixes: Sequence[str]

    def predicate(self, table) -> Column:
        preds = [F.col("qualifier").startswith(p) for p in self.prefixes]
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out


@dataclass
class ColumnRangeFilter(Filter):
    """ColumnRangeFilter.java:52 — qualifier in [min, max)."""

    min_column: Optional[str] = None
    min_inclusive: bool = True
    max_column: Optional[str] = None
    max_inclusive: bool = False

    def predicate(self, table) -> Column:
        q = F.col("qualifier")
        pred = F.lit(True)
        if self.min_column is not None:
            pred = pred & (q >= self.min_column if self.min_inclusive else q > self.min_column)
        if self.max_column is not None:
            pred = pred & (q <= self.max_column if self.max_inclusive else q < self.max_column)
        return pred


@dataclass
class ColumnPaginationFilter(Filter):
    """ColumnPaginationFilter.java — per-row limit+offset over columns
    (cell layer; qualifier order)."""

    limit: int
    offset: int = 0

    @staticmethod
    def _cell_order():
        """Reference cell comparison order within a row: family, then
        qualifier, then newest version first (KeyValue.COMPARATOR) —
        ordering on qualifier alone left the rank nondeterministic for
        multi-family or multi-version frames. Columns absent from the
        frame (a single-family latest view) are simply not referenced."""
        return [F.col("cf").asc_nulls_first(), F.col("qualifier"), F.col("ts").desc()]

    def apply(self, df: DataFrame, table) -> DataFrame:
        order = [c for c, name in zip(self._cell_order(), ("cf", "qualifier", "ts")) if name in df.columns]
        w = Window.partitionBy("rowkey").orderBy(*order)
        return (
            df.withColumn("__cn", F.row_number().over(w))
            .filter(
                (F.col("__cn") > self.offset) & (F.col("__cn") <= self.offset + self.limit)
            )
            .drop("__cn")
        )

    def predicate(self, table) -> Column:
        return F.lit(True)

    def branch_cond(self, df, table, gate, tag):
        # Positional rank among the cells this member SAW: a gated
        # cumulative count in reference cell order (= row_number when
        # gate=true). Window is per-rowkey — shuffles on the same key the
        # cell layer is already partitioned by, no scale hazard.
        h = f"__cn_{tag}"
        order = [
            c
            for c, name in zip(self._cell_order(), ("cf", "qualifier", "ts"))
            if name in df.columns
        ]
        w = (
            Window.partitionBy("rowkey")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = df.withColumn(h, F.sum(F.when(gate, 1).otherwise(0)).over(w))
        cond = (
            gate
            & (F.col(h) > self.offset)
            & (F.col(h) <= self.offset + self.limit)
        )
        return out, cond, [h]


@dataclass
class ColumnCountGetFilter(Filter):
    """ColumnCountGetFilter.java — first N columns of each row."""

    limit: int

    def apply(self, df: DataFrame, table) -> DataFrame:
        return ColumnPaginationFilter(limit=self.limit, offset=0).apply(df, table)

    def predicate(self, table) -> Column:
        return F.lit(True)

    def branch_cond(self, df, table, gate, tag):
        return ColumnPaginationFilter(limit=self.limit, offset=0).branch_cond(
            df, table, gate, tag
        )


@dataclass
class DependentColumnFilter(Filter):
    """DependentColumnFilter.java:51 — keep cells whose ts matches the ts
    of a reference column in the same row (cell layer self-join)."""

    ref_family: str
    ref_qualifier: str
    drop_dependent_column: bool = False

    def apply(self, df: DataFrame, table) -> DataFrame:
        ref = (
            df.filter((F.col("cf") == self.ref_family) & (F.col("qualifier") == self.ref_qualifier))
            .select(F.col("rowkey").alias("__rk"), F.col("ts").alias("__rts"))
            .distinct()
        )
        out = df.join(
            ref,
            (df["rowkey"] == ref["__rk"]) & (df["ts"] == ref["__rts"]),
            "inner",
        ).drop("__rk", "__rts")
        if self.drop_dependent_column:
            out = out.filter(
                ~((F.col("cf") == self.ref_family) & (F.col("qualifier") == self.ref_qualifier))
            )
        return out

    def predicate(self, table) -> Column:
        return F.lit(True)

    def branch_cond(self, df, table, gate, tag):
        # The reference-column ts set this member SAW, materialized as a
        # per-rowkey window aggregate (partitioned on rowkey — same key as
        # the cell store, no extra shuffle class); membership is the
        # branch condition. Equivalent to apply()'s self-join when
        # gate=true, but composable under MUST_PASS_ONE.
        h = f"__rts_{tag}"
        is_ref = (F.col("cf") == self.ref_family) & (
            F.col("qualifier") == self.ref_qualifier
        )
        w = Window.partitionBy("rowkey")
        out = df.withColumn(
            h, F.collect_set(F.when(gate & is_ref, F.col("ts"))).over(w)
        )
        cond = F.array_contains(F.col(h), F.col("ts"))
        if self.drop_dependent_column:
            cond = cond & ~is_ref
        return out, cond, [h]


@dataclass
class ValueFilter(Filter):
    """ValueFilter.java:48 — compare the cell value (cell layer)."""

    op: str
    comparator: Any

    def predicate(self, table) -> Column:
        return _as_comparator(self.comparator).compare(F.col("value"), self.op)


def reverse_scan_view(f: Filter) -> Filter:
    """Direction-aware copy of a filter tree for a REVERSED scan: the
    reference evaluates filters against rows in scan order, so
    WhileMatch takes-while from the top key downward, InclusiveStop
    bounds from below, and PageFilter pages the highest keys
    (Scan.java:578-595 reversed contract). Pure predicates are
    direction-free and returned as-is; the caller's tree is never
    mutated."""
    if isinstance(f, FilterList):
        return FilterList(f.operator, [reverse_scan_view(g) for g in f.filters])
    if isinstance(f, SkipFilter):
        return SkipFilter(reverse_scan_view(f.inner))
    if isinstance(f, WhileMatchFilter):
        return WhileMatchFilter(reverse_scan_view(f.inner), reverse=True)
    if isinstance(f, InclusiveStopFilter):
        return InclusiveStopFilter(f.stop_row, reverse=True)
    if isinstance(f, PageFilter):
        return PageFilter(f.page_size, reverse=True)
    return f


#: ``apply``-overriding filters whose ROW SELECTION still equals their
#: ``predicate`` — the override only projects columns (KeyOnly, SCV-
#: Exclude), routes through predicate() itself (RandomRow, Family), or
#: both (FirstKeyValueMatchingQualifiers). FilterList._row_faithful is
#: default-closed against everything not listed here. Positional/stateful
#: filters (PageFilter, WhileMatch, ColumnPagination, ColumnCountGet,
#: DependentColumn) are evaluated under MUST_PASS_ONE via their
#: ``branch_cond`` overrides (per-branch window/aggregate state, OR-ed in
#: one pass); any FUTURE apply() override without a branch_cond still
#: refuses loudly rather than silently over-selecting via a lit(True)
#: predicate.
_PREDICATE_FAITHFUL_OVERRIDES = (
    SingleColumnValueExcludeFilter,
    RandomRowFilter,
    KeyOnlyFilter,
    FirstKeyOnlyFilter,
    FirstKeyValueMatchingQualifiersFilter,
    FamilyFilter,
)
