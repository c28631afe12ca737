"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the configs below are the ones that also
matter on a real cluster (AQE, adaptive skew join, partition sizing,
Arrow for the Pandas-UDF slow path). Scale knobs are centralized here so
a 1000-executor deployment only changes master/shuffle-partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "hindex_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Settings chosen for scale:
      - AQE on: runtime coalescing, skew-join splitting, dynamic
        broadcast conversion — essential at 100 TB where static plans
        misestimate.
      - shuffle.partitions ~ cores locally; on a cluster this should be
        2-3x total cores (AQE coalesces the excess).
      - maxPartitionBytes 128m: keeps scan tasks memory-bounded.
      - Arrow enabled: all Pandas-UDF operators ride vectorized batches.
      - Session TZ pinned UTC so timestamp semantics match the DuckDB
        oracle and are cluster-location-independent.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its DEFAULT
        # (true) on purpose — measured both ways (r12, full-bench
        # interleaved A/B): `false` (respect the 64 MB advisory size)
        # tightened KB-sized probe lines by ~0.1 s but SERIALIZED every
        # compute-dense small-byte stage — byte-based coalescing cannot
        # see explode/levenshtein amplification downstream of a small
        # exchange, and edit_distance_pairs ran 4.6 s vs 1.9 s. Totals:
        # 37.1 s (false) vs 33.3 s (true) with every other line
        # noise-equal.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the catalog's bucketed layout guarantees one file per bucket
        # (repartition-on-bucket-hash before bucketBy), so bucketed scans
        # can legally report their SORTED BY ordering: co-bucketed
        # sort-merge joins then skip BOTH the exchange AND the
        # per-partition sort (at 100 TB the sort is an O(n log n) +
        # spill cost on every SMJ). Spark verifies one-file-per-bucket
        # before reporting order, so multi-file buckets are unaffected.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # driver testdata's events.ts is parquet TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long (epoch nanos) and convert
        # explicitly where needed
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-side rows, built through Arrow into a JVM
    LocalRelation.

    ``spark.createDataFrame(list)`` parallelizes the rows into an RDD
    with no size statistics: every scan of it decodes the rows in a
    Python worker task per partition (~0.2 s each on a 4-core host), and
    the planner can never broadcast it. The local relation is scanned in
    the JVM and carries its real size. ``schema`` is a StructType or a
    DDL string without timestamp fields. A row of the wrong width or a
    None in a non-nullable field is refused, as createDataFrame does.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    if any(len(r) != len(arrow) for r in rows):
        raise ValueError(f"rows must have {len(arrow)} fields: {schema.simpleString()}")
    cols = list(zip(*rows)) or [()] * len(arrow)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow)]
    for a, f in zip(arrays, arrow):
        if a.null_count and not f.nullable:
            raise ValueError(f"field {f.name} is not nullable, but got None")
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load driver parquet tables; returns dict name -> DataFrame."""
    if not names:
        names = (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
