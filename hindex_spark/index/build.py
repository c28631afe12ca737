"""Index build & maintenance jobs.

Reference: TableIndexer.java:44-60 / IndexCreationMapper.java (batch
index build over existing data) and IndexRegionObserver.preBatchMutate
(IndexRegionObserver.java:149-186) + IndexUtils.prepareIndexPut:269-330
(synchronous index maintenance on writes, including the delete path's
read-current-row at doGetAndGroupByTS:288-328).

Spark shape: the index is a sorted projection ``(idx cols..., rowkey)``
of the *latest visible* table state. Build = one column-pruned scan +
range-repartition on the index key (sorted layout = the HFile analog,
giving min/max row-group stats for range pruning at query time).
Maintenance = recompute the projection for affected rowkeys only and
splice it in (delete-old + insert-new in the same batch — the reference's
same-RPC atomicity becomes same-job atomicity).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hindex_spark.index.spec import IndexSpecification


def build_index(
    table_df: DataFrame,
    spec: IndexSpecification,
    rowkey_col: str = "rowkey",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """TableIndexer analog: project + type + sort.

    At 100 TB: this is a single shuffle (repartitionByRange on the index
    key) over a column-pruned scan — the minimum possible work. NULL key
    entries are dropped (the reference never writes an index Put for an
    absent column, IndexUtils.prepareIndexPut:269-330).
    """
    # validate=True: over-length String values fail the build job, the
    # prepareIndexPut IOException analog (see ColumnQualifier.value_expr)
    cols = [c.expr(validate=True) for c in spec.columns] + [F.col(rowkey_col)]
    out = table_df.select(*cols)
    first = spec.columns[0].indexed_name
    out = out.filter(F.col(first).isNotNull())
    if num_partitions:
        # persisting: range-partition + sort so parquet row-group min/max
        # stats give range pruning (the HFile sort invariant). The
        # in-memory default stays an UNSORTED lazy projection — sorting a
        # lazy view would re-run the sort on every query for no pruning
        # benefit, and index predicates push into the base scan anyway.
        sort_cols = spec.indexed_names + [rowkey_col]
        out = out.repartitionByRange(num_partitions, *[F.col(c) for c in sort_cols])
        out = out.sortWithinPartitions(*sort_cols)
    return out


def maintain_index(
    index_df: DataFrame,
    affected_rowkeys: DataFrame,
    affected_state: DataFrame,
    spec: IndexSpecification,
    rowkey_col: str = "rowkey",
) -> DataFrame:
    """Incremental maintenance: remove index entries for affected rowkeys
    (the reference reads the old row to find entries to tombstone,
    doGetAndGroupByTS:288-328 — here an anti-join does it without the
    read), then add entries from the new state of those rows.

    ``affected_state``: the new state of EXACTLY the affected rows (only
    the spec's source columns + rowkey are needed; deleted rows are
    absent). The mutation verbs compute it bounded by the batch, so the
    index job is a narrow join over the batch, never a re-execution of
    the table-wide merge."""
    keys = affected_rowkeys.select(rowkey_col).distinct()
    kept = index_df.join(keys, rowkey_col, "left_anti")
    fresh = build_index(affected_state, spec, rowkey_col)
    return kept.unionByName(fresh)
