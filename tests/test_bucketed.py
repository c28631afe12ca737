"""Bucketed storage: rowkey joins must run without an Exchange on the
bucketed sides (the region-colocation analog)."""

from pyspark.sql import functions as F

from hindex_spark.catalog import Catalog
from hindex_spark.index.spec import IndexSpecification
from hindex_spark.table import Table


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        cat = Catalog(spark, str(tmp_path / "wh"))
        t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
        t.create_index(IndexSpecification("idx_cust").add_column("o_custkey", "Long"))
        cat.save(t, num_partitions=8)

        t2 = cat.load("orders")
        data = t2.df
        idx = t2.index_tables["idx_cust"]
        keys = idx.filter(F.col("o_custkey") == 85).select("o_orderkey")
        joined = data.join(keys, "o_orderkey", "left_semi")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-bucketed on o_orderkey: no Exchange feeding the join
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert joined.count() == data.join(
            idx.filter(F.col("o_custkey") == 85).select("o_orderkey"), "o_orderkey", "left_semi"
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        pass


def test_exists_batch_zero_table_side_exchange_on_bucketed(spark, sf_dir, tmp_path):
    # HTable.exists(List<Get>) (HTable.java:693) = per-key server probes.
    # On the engine's bucketed layout the whole table side of exists_batch
    # (scan -> broadcast LeftSemi restriction -> distinct) must run with
    # ZERO exchanges: the scan's HashPartitioning(rowkey) satisfies the
    # distinct's clustering, so probing N keys never shuffles table rows.
    import re

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.save(
        Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "oexb"),
        num_partitions=8,
    )
    try:
        bt = cat.load("oexb")
        probes = spark.createDataFrame([(1,), (2,), (999999999,)], "o_orderkey long")
        out = bt.exists_batch(probes)
        p = out._jdf.queryExecution().executedPlan().toString()
        # partial+final distinct directly over the semi join — consecutive
        # plan lines, i.e. NO Exchange between the bucketed scan, the
        # probe restriction, and the distinct
        assert re.search(
            r"HashAggregate[^\n]*\n[^\n]*HashAggregate[^\n]*\n[^\n]*LeftSemi", p
        )
        semi_to_scan = re.search(r"LeftSemi.*?FileScan", p, re.S)
        assert semi_to_scan is not None and "Exchange" not in semi_to_scan.group(0)
        assert "Bucketed: true" in p
        got = {r["o_orderkey"]: r["exists"] for r in out.collect()}
        assert got == {1: True, 2: True, 999999999: False}
    finally:
        pass


def test_scan_where(spark, sf_dir):
    t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
    out = t.scan_where("o_totalprice > 100000", ["o_totalprice"])
    assert out.count() == t.df.filter(F.col("o_totalprice") > 100000).count()
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(o_totalprice,100000" in p  # pushdown through SQL string


def test_cobucketed_fact_join_and_agg_zero_exchanges(spark, sf_dir, tmp_path):
    # The 100 TB Q3 shape: orders and lineitem co-bucketed on the join
    # key run join AND the downstream orderkey-grouped aggregation with
    # ZERO hash exchanges — the shuffle that dominates a fact-fact join
    # at scale is eliminated by database layout, not query tricks
    # (region-colocation analog; HashPartitioning(orderkey) satisfies
    # the groupBy's clustering requirement because the bucket key is a
    # subset of the group keys).
    import re

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cat = Catalog(spark, str(tmp_path / "wh"))
        cat.save_bucketed(
            Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "oq3t"),
            num_buckets=4,
        )
        cat.save_bucketed(
            Table.from_parquet(spark, f"{sf_dir}/lineitem.parquet", "l_orderkey", "lq3t"),
            num_buckets=4,
        )
        o = spark.table(cat.bucketed_sql_name("oq3t_bucketed"))
        l = spark.table(cat.bucketed_sql_name("lq3t_bucketed"))
        q = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderkey")
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0, plan
        assert q.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        pass


def test_cobucketed_join_skips_sort_and_exchange(spark, sf_dir, tmp_path):
    # One file per bucket (the writer repartitions on the bucket hash
    # before bucketBy) + sorted-bucket-scan ordering enabled by the
    # engine session => a co-bucketed SMJ needs neither an Exchange NOR
    # a per-partition Sort: the scan itself satisfies both the
    # clustering and the ordering requirement. At 100 TB this removes
    # an O(n log n)+spill step from every rowkey join.
    import re

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cat = Catalog(spark, str(tmp_path / "wh"))
        cat.save(
            Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "oss"),
            num_partitions=4,
        )
        cat.save(
            Table.from_parquet(spark, f"{sf_dir}/lineitem.parquet", "l_orderkey", "lss"),
            num_partitions=4,
        )
        o = cat.load("oss").df
        l = cat.load("lss").df
        q = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderkey").agg(
            F.count("*").alias("n")
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0, plan
        assert len(re.findall(r"\bSort \[", plan)) == 0, plan
        # correctness unchanged vs the raw-parquet join
        raw = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .join(
                spark.read.parquet(f"{sf_dir}/orders.parquet"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert q.agg(F.sum("n")).first()[0] == raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
