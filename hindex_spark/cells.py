"""Cell layer: the HBase data model (sorted, multi-versioned cell space)
as a DataFrame, with version/tombstone/TTL resolution.

Reference semantics: KeyValue.java:64-81 (cell = row/cf/qualifier/ts/type/
value, delete-tombstone key types), ScanQueryMatcher.match
(hbase-server/.../regionserver/ScanQueryMatcher.java:262) — tombstone
masking, version counting, TTL, TimeRange.

Scale notes: resolution is one window per (rowkey, cf, qualifier) plus
broadcast joins against tombstone aggregates (tombstones are tiny relative
to puts). Partition the cell store by range(rowkey) so a region-style scan
prunes; the window shuffle is on the same key so one shuffle serves both.
Tombstone-aggregate joins are left to AQE: broadcast when small (the
normal case), shuffle join when a batch carries massive deletes.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple, Union, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hindex_spark.session import local_frame

# Mutation op codes (KeyValue.Type analogs)
PUT = "put"
DELETE_VERSION = "delete_version"  # Type.Delete — one exact version
DELETE_COLUMN = "delete_column"    # Type.DeleteColumn — versions <= ts
DELETE_FAMILY = "delete_family"    # Type.DeleteFamily — family versions <= ts
DELETE_ROW = "delete_row"          # client Delete with no family: whole row

CELL_SCHEMA = T.StructType(
    [
        T.StructField("rowkey", T.StringType(), False),
        T.StructField("cf", T.StringType(), True),
        T.StructField("qualifier", T.StringType(), True),
        T.StructField("ts", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ]
)


def empty_cells(spark: SparkSession) -> DataFrame:
    return cells_from_rows(spark, [])


def cells_from_rows(spark: SparkSession, rows: Sequence[tuple]) -> DataFrame:
    """rows of (rowkey, cf, qualifier, ts, op, value), as a JVM local
    relation: ``resolve`` scans the cells once per tombstone kind."""
    return local_frame(spark, rows, CELL_SCHEMA)


def resolve(
    cells: DataFrame,
    max_versions: Union[int, Dict[str, int], None] = 1,
    time_range: Optional[Tuple[int, int]] = None,
    ttl: Union[int, Dict[str, int], None] = None,
    now: Optional[int] = None,
    raw: bool = False,
) -> DataFrame:
    """Visible put-cells after tombstone masking, TTL, TimeRange, and
    version counting — the ScanQueryMatcher contract.

    * a delete_version at ts T masks the put with exactly ts == T;
    * delete_column masks puts of that (row, cf, qualifier) with ts <= T;
    * delete_family masks puts of that (row, cf) with ts <= T;
    * delete_row masks puts of that row with ts <= T;
    * TTL drops cells older than now - ttl;
    * TimeRange keeps puts with min_ts <= ts < max_ts;
    * version counting keeps the newest ``max_versions`` per column.

    ``ttl`` and ``max_versions`` also accept a per-family dict
    ({cf: value}) — HColumnDescriptor sets both per column family
    (setTimeToLive/setMaxVersions; TestScanWhenTTLExpired
    .testScannerSelectionWhenThereAreMutlipleCFs expires one family
    while its sibling stays visible). Families absent from a ttl dict
    never expire; absent from a max_versions dict they default to 1
    (FamilyDescriptor default). The lookup is a map literal on the cf
    column — pure codegen, no join, scale-free.

    raw=True skips tombstone masking (Scan.setRaw analog).
    """
    puts = cells.filter(F.col("op") == PUT)

    if ttl is not None:
        if now is None:
            raise ValueError("ttl requires now")
        if isinstance(ttl, dict):
            fam_ttl = F.create_map(
                *[F.lit(x) for kv in ttl.items() for x in kv]
            )[F.col("cf")]
            cutoff = F.lit(now) - fam_ttl
            puts = puts.filter(cutoff.isNull() | (F.col("ts") >= cutoff))
        else:
            puts = puts.filter(F.col("ts") >= F.lit(now - ttl))

    if not raw:
        dels = cells.filter(F.col("op") != PUT)
        # Exact-version tombstones: anti-join on the full coordinate.
        dv = dels.filter(F.col("op") == DELETE_VERSION).select(
            F.col("rowkey").alias("d_rk"),
            F.col("cf").alias("d_cf"),
            F.col("qualifier").alias("d_q"),
            F.col("ts").alias("d_ts"),
        )
        puts = puts.join(
            dv,
            (puts["rowkey"] == dv["d_rk"])
            & (puts["cf"] == dv["d_cf"])
            & (puts["qualifier"] == dv["d_q"])
            & (puts["ts"] == dv["d_ts"]),
            "left_anti",
        )
        # Range tombstones: take max ts per scope, left-join, filter newer.
        dc = (
            dels.filter(F.col("op") == DELETE_COLUMN)
            .groupBy("rowkey", "cf", "qualifier")
            .agg(F.max("ts").alias("__dc_ts"))
        )
        df_ = (
            dels.filter(F.col("op") == DELETE_FAMILY)
            .groupBy("rowkey", "cf")
            .agg(F.max("ts").alias("__df_ts"))
        )
        dr = (
            dels.filter(F.col("op") == DELETE_ROW)
            .groupBy("rowkey")
            .agg(F.max("ts").alias("__dr_ts"))
        )
        puts = (
            puts.join(dc, ["rowkey", "cf", "qualifier"], "left")
            .join(df_, ["rowkey", "cf"], "left")
            .join(dr, ["rowkey"], "left")
            .filter(
                (F.col("__dc_ts").isNull() | (F.col("ts") > F.col("__dc_ts")))
                & (F.col("__df_ts").isNull() | (F.col("ts") > F.col("__df_ts")))
                & (F.col("__dr_ts").isNull() | (F.col("ts") > F.col("__dr_ts")))
            )
            .drop("__dc_ts", "__df_ts", "__dr_ts")
        )

    if time_range is not None:
        lo, hi = time_range
        puts = puts.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))

    # Two puts at the same exact coordinate (row, cf, qualifier, ts) are
    # ONE cell in the reference (the later write overwrites in place);
    # collapse them (deterministically: max value) before version counting
    # so they can't occupy two version slots.
    wdup = Window.partitionBy("rowkey", "cf", "qualifier", "ts").orderBy(
        F.col("value").desc_nulls_last()
    )
    puts = (
        puts.withColumn("__dn", F.row_number().over(wdup))
        .filter(F.col("__dn") == 1)
        .drop("__dn")
    )

    if max_versions is not None:
        # value desc as tie-break: two puts at the same ts have no defined
        # order in the reference either; this makes the pick deterministic.
        w = Window.partitionBy("rowkey", "cf", "qualifier").orderBy(
            F.col("ts").desc(), F.col("value").desc_nulls_last()
        )
        if isinstance(max_versions, dict):
            limit = F.coalesce(
                F.create_map(
                    *[F.lit(x) for kv in max_versions.items() for x in kv]
                )[F.col("cf")].cast("int"),
                F.lit(1),
            )
        else:
            limit = F.lit(max_versions)
        puts = (
            puts.withColumn("__vn", F.row_number().over(w))
            .filter(F.col("__vn") <= limit)
            .drop("__vn")
        )
    return puts


def to_wide(
    resolved: DataFrame,
    columns: Sequence[Tuple[str, str]],
    rowkey_col: str = "rowkey",
) -> DataFrame:
    """Latest-version wide view: one row per rowkey, one column per
    (cf, qualifier) named ``{cf}_{qualifier}`` — the typed table layer.

    One hash aggregate on rowkey; no pivot shuffle beyond it.
    """
    aggs = [
        F.max(F.when((F.col("cf") == cf) & (F.col("qualifier") == q), F.col("value"))).alias(
            f"{cf}_{q}"
        )
        for cf, q in columns
    ]
    return resolved.groupBy(F.col("rowkey").alias(rowkey_col)).agg(*aggs)


def compact(
    cells: DataFrame,
    max_versions: Union[int, Dict[str, int], None] = 1,
    ttl: Union[int, Dict[str, int], None] = None,
    now: Optional[int] = None,
) -> DataFrame:
    """Major-compaction job (DefaultCompactor/ExploringCompactionPolicy
    analog): rewrite the cell store keeping only visible versions, dropping
    tombstones and everything they mask, enforcing TTL. Output is the
    canonical compacted store (sorted by rowkey at write time).
    """
    return resolve(cells, max_versions=max_versions, ttl=ttl, now=now)
