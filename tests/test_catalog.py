"""Catalog persistence: descriptor round-trip, sorted layout, index
reload, snapshot, multi-table scan."""

import os

from pyspark.sql import functions as F

from hindex_spark import filters as fl
from hindex_spark.catalog import Catalog, TableDescriptor, multi_table_scan
from hindex_spark.index.spec import IndexSpecification, SeparatorPartition
from hindex_spark.table import Scan, Table


def test_descriptor_roundtrip():
    idx = IndexSpecification("idx_a").add_column("c1", "Int").add_column(
        "c2", "String", value_partition=SeparatorPartition("--", 2)
    )
    from hindex_spark.index.spec import TableIndices

    d = TableDescriptor("t", "rowkey", indices=TableIndices([idx]))
    d2 = TableDescriptor.from_json(d.to_json())
    assert d2.rowkey_col == "rowkey"
    assert d2.indices.indices[0].name == "idx_a"
    vp = d2.indices.indices[0].columns[1].value_partition
    assert isinstance(vp, SeparatorPartition) and vp.position == 2


def test_save_load_query_with_index(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "warehouse"))
    t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
    t.create_index(IndexSpecification("idx_cust").add_column("o_custkey", "Long"))
    cat.save(t, num_partitions=4)

    assert cat.list_tables() == ["orders"]
    t2 = cat.load("orders")
    assert t2.df.count() == t.df.count()
    f = fl.SingleColumnValueFilter("o_custkey", fl.EQUAL, 85, filter_if_missing=True)
    out = t2.scan(Scan(filter=f))
    assert t2.last_index_plan.used_indexes == ["idx_cust"]
    assert out.count() == t.df.filter(F.col("o_custkey") == 85).count()


def test_sorted_layout_prunes(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh2"))
    t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
    cat.save(t, num_partitions=8)
    t2 = cat.load("orders")
    plan = t2.get(5)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan  # min/max stats + pushdown do the pruning


def test_bucketed_put_no_exchange_on_table_side(spark, sf_dir, tmp_path):
    """The mutation-scale invariant: a put batch against a cataloged
    (bucketed) table must not reshuffle the stored table — only the
    (small) put batch gets an Exchange into the bucket layout."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # the batch's one Exchange lands directly in the bucket layout when
    # the session's shuffle width equals the bucket count (8 here)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        cat = Catalog(spark, str(tmp_path / "whb"))
        t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
        cat.save(t, num_partitions=8)
        t2 = cat.load("orders")
        puts = spark.createDataFrame([(5, 999.0)], "o_orderkey long, o_totalprice double")
        out = t2.put(puts)
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        # exactly ONE hash exchange (the put batch); the bucketed scan
        # side feeds the join directly
        assert plan.count("Exchange hashpartitioning(o_orderkey") == 1
        assert "Bucketed: true" in plan
        # and the merge is correct
        assert out.df.filter(F.col("o_orderkey") == 5).collect()[0]["o_totalprice"] == 999.0
        assert out.df.count() == t.df.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.set("spark.sql.shuffle.partitions", width)


def test_snapshot_is_immutable_copy(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh3"))
    t = Table.from_parquet(spark, f"{sf_dir}/region.parquet", "r_regionkey", "region")
    cat.save(t, num_partitions=1)
    cat.snapshot("region", "v1")
    n0 = cat.load("region@v1").df.count()
    # mutate and re-save the live table; snapshot must not change
    t2 = cat.load("region").delete(
        spark.createDataFrame([(0,)], ["r_regionkey"])
    )
    cat.save(t2, num_partitions=1)
    assert cat.load("region").df.count() == n0 - 1
    assert cat.load("region@v1").df.count() == n0


def test_multi_table_scan(spark, sf_dir):
    a = Table.from_parquet(spark, f"{sf_dir}/region.parquet", "r_regionkey", "region")
    b = Table.from_parquet(spark, f"{sf_dir}/region.parquet", "r_regionkey", "region2")
    assert multi_table_scan([a, b]).count() == 2 * a.df.count()


def test_resave_with_different_bucket_count_not_stale(spark, sf_dir, tmp_path):
    """Re-saving with a different bucket count must re-register: stale
    bucketing metadata silently misroutes rows in shuffle-free joins."""
    cat = Catalog(spark, str(tmp_path / "whs"))
    t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
    cat.save(t, num_partitions=8)
    t1 = cat.load("orders")
    assert t1.df.count() == t.df.count()
    cat.save(t, num_partitions=4)
    t2 = cat.load("orders")
    # correct row count AND a correct merge through the bucketed join
    assert t2.df.count() == t.df.count()
    puts = spark.createDataFrame([(5, 111.0)], "o_orderkey long, o_totalprice double")
    merged = t2.put(puts).df
    assert merged.count() == t.df.count()
    assert merged.filter(F.col("o_orderkey") == 5).collect()[0]["o_totalprice"] == 111.0


def test_family_physical_options_applied(spark, sf_dir, tmp_path):
    """FamilyDescriptor.compression/bloom reach the parquet files
    (HColumnDescriptor -> HFile physical options,
    BloomFilterFactory.java:40): codec asserted from the file footers,
    bloom asserted by the bytes it adds vs a bloom=NONE save of the
    identical data."""
    import glob

    import pyarrow.parquet as pq

    from hindex_spark.catalog import FamilyDescriptor

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.col("o_custkey").alias("d_custkey"),
        F.col("o_totalprice").alias("d_totalprice"),
    )
    t = Table(df, "o_orderkey", "orders_phys")

    def save(sub, fams):
        cat = Catalog(spark, str(tmp_path / sub))
        cat.save(t, num_partitions=4, families=fams)
        files = sorted(glob.glob(str(tmp_path / sub / "orders_phys/data/*.parquet")))
        assert files
        return cat, files

    cat_z, files_z = save(
        "z", [FamilyDescriptor("d", compression="zstd", bloom="ROWCOL")]
    )
    _, files_none = save(
        "n", [FamilyDescriptor("d", compression="zstd", bloom="NONE")]
    )
    md = pq.ParquetFile(files_z[0]).metadata.row_group(0)
    codecs = {md.column(i).compression for i in range(md.num_columns)}
    assert codecs == {"ZSTD"}, codecs
    # same data, same codec — the only delta is the bloom structures
    assert sum(map(os.path.getsize, files_z)) > sum(map(os.path.getsize, files_none))
    # descriptor round-trips the options and load() carries them
    loaded = cat_z.load("orders_phys")
    fam = loaded.families[0]
    assert (fam.name, fam.compression, fam.bloom) == ("d", "zstd", "ROWCOL")
    # point get still correct through the bloom-enabled layout
    assert loaded.get(42).count() <= 1


def test_family_mixed_codecs_fail_loud(spark, sf_dir, tmp_path):
    import pytest

    from hindex_spark.catalog import FamilyDescriptor

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(10)
    t = Table(df, "o_orderkey", "orders_mix")
    cat = Catalog(spark, str(tmp_path))
    with pytest.raises(ValueError, match="mixed per-family compression"):
        cat.save(
            t,
            families=[
                FamilyDescriptor("a", compression="zstd"),
                FamilyDescriptor("b", compression="snappy"),
            ],
        )
    with pytest.raises(ValueError, match="unknown bloom type"):
        cat.save(t, families=[FamilyDescriptor("a", bloom="COLUMN")])


def _index_consistent(t):
    """The ACID invariant: every probe of the index equals a real scan of
    the table it was loaded WITH (index never behind/ahead of its data)."""
    idx = t.index_tables["idx_c"]
    via_index = {r["o_orderkey"] for r in idx.select("o_orderkey").collect()}
    via_table = {
        r["o_orderkey"]
        for r in t.df.filter(F.col("o_custkey").isNotNull()).select("o_orderkey").collect()
    }
    return via_index == via_table


def test_acid_reader_never_sees_table_ahead_of_index(spark, sf_dir, tmp_path):
    """TestAcidGuaranteesForIndex analog (hbase-secondaryindex/src/test/
    .../TestAcidGuaranteesForIndex.java): the reference guarantees a
    reader never observes data mutations without their index mutations
    (same-RPC preBatchMutate). Here the commit point is the descriptor
    pointer swap — a reader loading DURING a save (after the new data
    and index files exist, before the pointer moves) must still see the
    OLD table + OLD index pair, and a save that crashes before the
    pointer swap must leave the old version fully live."""
    import pytest

    from hindex_spark.catalog import Catalog as Cat

    base = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(300)
    )
    t = Table(base, "o_orderkey", "orders_acid")
    t.create_index(IndexSpecification("idx_c").add_column("o_custkey", "Long"))
    cat = Cat(spark, str(tmp_path))
    cat.save(t, num_partitions=2)
    v1_rows = cat.load("orders_acid").df.count()

    # mutate: delete a slice (touches both table and index)
    t2 = cat.load("orders_acid").delete_where(F.col("o_orderkey") < 100)

    observed = {}

    def reader_mid_swap():
        # runs after v2 data+index files are fully written, BEFORE the
        # descriptor pointer moves — the exact window the reference's
        # concurrent readers hammer
        mid = cat.load("orders_acid")
        observed["rows"] = mid.df.count()
        observed["consistent"] = _index_consistent(mid)

    cat._pre_commit_hook = reader_mid_swap
    cat.save(t2, num_partitions=2)
    cat._pre_commit_hook = None
    assert observed["rows"] == v1_rows  # old version, not the new data
    assert observed["consistent"]

    # after the commit the new pair is visible atomically
    now = cat.load("orders_acid")
    assert now.df.count() == v1_rows - 100
    assert _index_consistent(now)

    # crash BEFORE the pointer swap: old version stays fully live
    t3 = now.delete_where(F.col("o_orderkey") < 150)

    def boom():
        raise RuntimeError("crash before commit")

    cat._pre_commit_hook = boom
    with pytest.raises(RuntimeError, match="crash before commit"):
        cat.save(t3, num_partitions=2)
    cat._pre_commit_hook = None
    recovered = cat.load("orders_acid")
    assert recovered.df.count() == v1_rows - 100  # v2, not the crashed v3
    assert _index_consistent(recovered)
    # and a retry commits cleanly
    cat.save(t3, num_partitions=2)
    assert cat.load("orders_acid").df.count() == v1_rows - 150


def test_crash_between_staging_write_and_swap_is_recoverable(spark, sf_dir, tmp_path):
    """TestIndexPutsWithRegionServerRestart analog (hbase-secondaryindex/
    src/test/.../TestIndexPutsWithRegionServerRestart.java): the reference
    survives a region-server kill mid-load via WAL replay. The engine's
    equivalent crash window is INSIDE a save, after the writer-unique
    staging directories (suffix = fence token) are fully written but
    before the post-fence promotion. A kill there must (a) leave orphan
    ``.staging.<token>`` dirs that the NEXT successful save sweeps, (b)
    keep every reader on the old committed version — table AND index
    consistent — and (c) leave zero staging residue after the retry."""
    import glob

    import pytest

    from hindex_spark.catalog import Catalog as Cat

    base = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(300)
    )
    t = Table(base, "o_orderkey", "orders_crash")
    t.create_index(IndexSpecification("idx_c").add_column("o_custkey", "Long"))
    cat = Cat(spark, str(tmp_path))
    cat.save(t, num_partitions=2)  # v0 committed
    v0_rows = cat.load("orders_crash").df.count()
    d = str(tmp_path / "orders_crash")

    t2 = cat.load("orders_crash").delete_where(F.col("o_orderkey") < 100)

    real_swap = Cat._swap_in
    calls = {"n": 0, "die_at": 1}

    def dying_swap(final, staging):
        calls["n"] += 1
        if calls["n"] == calls["die_at"]:
            raise RuntimeError("killed between staging write and swap")
        real_swap(final, staging)

    # crash at the DATA swap: staging fully written, nothing promoted
    cat_dying = Cat(spark, str(tmp_path))
    cat_dying._swap_in = dying_swap
    with pytest.raises(RuntimeError, match="killed between staging"):
        cat_dying.save(t2, num_partitions=2)
    assert glob.glob(f"{d}/data_v1.staging.*")  # the orphan (token-suffixed)
    assert not os.path.isdir(f"{d}/data_v1")    # nothing promoted
    # readers never see it: still the committed v0 pair
    recovered = cat.load("orders_crash")
    assert recovered.df.count() == v0_rows
    assert _index_consistent(recovered)

    # crash at the INDEX swap: data_v1 promoted but descriptor still v0 —
    # the version pointer keeps readers on the consistent v0 (data,index)
    calls["n"], calls["die_at"] = 0, 2
    with pytest.raises(RuntimeError, match="killed between staging"):
        cat_dying.save(t2, num_partitions=2)
    assert os.path.isdir(f"{d}/data_v1")  # promoted by the first swap
    recovered = cat.load("orders_crash")
    assert recovered.df.count() == v0_rows  # descriptor never moved
    assert _index_consistent(recovered)

    # retry on a healthy catalog: reclaims the orphans, commits v1
    cat.save(t2, num_partitions=2)
    assert glob.glob(f"{d}/**/*.staging*", recursive=True) == []
    now = cat.load("orders_crash")
    assert now.df.count() == v0_rows - 100
    assert _index_consistent(now)


def test_crash_leaving_partial_version_dirs_is_recoverable(spark, sf_dir, tmp_path):
    """A save killed mid-write can leave a PARTIAL uncommitted version
    dir at the next version's paths. The descriptor never references
    it, and the next save's promotion of its staging replaces it
    wholesale."""
    base = spark.read.parquet(f"{sf_dir}/region.parquet")
    t = Table(base, "r_regionkey", "region_crash")
    t.create_index(IndexSpecification("idx_n").add_column("r_name", "String"))
    cat = Catalog(spark, str(tmp_path))
    cat.save(t, num_partitions=1)  # v0
    d = str(tmp_path / "region_crash")
    # simulate a save killed mid-write: partial junk at the v1 paths
    os.makedirs(f"{d}/data_v1", exist_ok=True)
    os.makedirs(f"{d}/index_v1/idx_n", exist_ok=True)
    with open(f"{d}/data_v1/part-00000.parquet", "wb") as fh:
        fh.write(b"not parquet")
    # readers stay on v0 (descriptor pointer)
    assert cat.load("region_crash").df.count() == base.count()
    # next save overwrites the partial dirs and commits v1 cleanly
    cat.save(cat.load("region_crash"), num_partitions=1)
    got = cat.load("region_crash")
    assert got.df.count() == base.count()
    via_idx = {r["r_regionkey"] for r in got.index_tables["idx_n"].collect()}
    assert via_idx == {r["r_regionkey"] for r in base.collect()}


def test_version_gc_keeps_one_grace_generation(spark, sf_dir, tmp_path):
    """Successive saves keep exactly {current, previous} version dirs:
    the previous generation is the grace window for lazy readers
    attached before the last commit; older generations are GC'd."""
    base = spark.read.parquet(f"{sf_dir}/region.parquet")
    t = Table(base, "r_regionkey", "region_gc")
    cat = Catalog(spark, str(tmp_path))
    d = str(tmp_path / "region_gc")
    cat.save(t, num_partitions=1)                       # v0
    cat.save(cat.load("region_gc"), num_partitions=1)   # v1
    # v0 kept as grace, v1 live
    assert os.path.isdir(f"{d}/data") and os.path.isdir(f"{d}/data_v1")
    reader_v1 = cat.load("region_gc")                   # attaches v1
    cat.save(reader_v1, num_partitions=1)               # v2: GCs v0
    assert not os.path.isdir(f"{d}/data")
    assert os.path.isdir(f"{d}/data_v1") and os.path.isdir(f"{d}/data_v2")
    # the grace window is real: the pre-commit reader still scans
    assert reader_v1.df.count() == base.count()
    assert cat.load("region_gc").df.count() == base.count()


def test_save_holds_exclusive_writer_lock_through_commit(spark, sf_dir, tmp_path):
    """save() serializes writers per table: an exclusive flock on
    _save.lock spans read-version -> write -> commit. A second writer
    probing the lock DURING a save (pre-commit hook window) must find it
    held; after the save it must be free."""
    import fcntl

    base = spark.read.parquet(f"{sf_dir}/region.parquet")
    t = Table(base, "r_regionkey", "region_lock")
    cat = Catalog(spark, str(tmp_path))
    lock_path = str(tmp_path / "region_lock" / "_save.lock")
    observed = {}

    def probe():
        with open(lock_path, "w") as fh:
            try:
                fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
                observed["held"] = False
                fcntl.flock(fh, fcntl.LOCK_UN)
            except BlockingIOError:
                observed["held"] = True

    cat._pre_commit_hook = probe
    cat.save(t, num_partitions=1)
    cat._pre_commit_hook = None
    assert observed["held"] is True
    probe()
    assert observed["held"] is False


def test_index_physical_derived_from_member_families_only(spark, tmp_path):
    """Index ttl/max_versions derive from the families its columns
    belong to (IndexSpecification.java:57-59) — an unrelated family's
    short TTL must not leak onto an index whose own data never expires
    (compaction would drop live index entries). The derivation lands on
    the DESCRIPTOR only: the caller's live IndexSpecification objects
    are never mutated, so a later save with different families starts
    from the user's declaration."""
    import json

    from hindex_spark.catalog import FamilyDescriptor, TableDescriptor

    df = spark.createDataFrame(
        [(1, "x", 2.0)], "k long, f1_a string, f2_b double"
    )
    t = Table(df, "k", "ttltab")
    t.create_index(IndexSpecification("idx_f1").add_column("f1_a"))
    cat = Catalog(spark, str(tmp_path))
    cat.save(
        t,
        num_partitions=1,
        families=[
            FamilyDescriptor("f1", max_versions=3, ttl=None),
            FamilyDescriptor("f2", max_versions=1, ttl=60),
        ],
    )
    with open(str(tmp_path / "ttltab" / "_descriptor.json")) as fh:
        desc = TableDescriptor.from_json(fh.read())
    spec = desc.indices.indices[0]
    assert spec.ttl is None and spec.max_versions == 3
    # the caller's spec is untouched (descriptor-only derivation)
    live = t.indices.indices[0]
    assert live.ttl is None and live.max_versions is None
    # a re-save with different families derives fresh, not compounded
    cat.save(t, num_partitions=1, families=[FamilyDescriptor("f1", ttl=30)])
    with open(str(tmp_path / "ttltab" / "_descriptor.json")) as fh:
        desc2 = TableDescriptor.from_json(fh.read())
    assert desc2.indices.indices[0].ttl == 30
    assert t.indices.indices[0].ttl is None


def test_admin_drop_table_cascades_to_indexes(spark, sf_dir, tmp_path):
    """IndexMasterObserver.postDeleteTableHandler:622-640 — deleting a
    table deletes its index data and unregisters every SQL name."""
    cat = Catalog(spark, str(tmp_path / "whd"))
    t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
    t.create_index(IndexSpecification("idx_cust").add_column("o_custkey", "Long"))
    cat.save(t, num_partitions=4)
    data_name = cat._sql_name("orders", "__data")
    idx_name = cat._sql_name("orders", "__idx_idx_cust")
    assert spark.catalog.tableExists(f"`{data_name}`")
    assert spark.catalog.tableExists(f"`{idx_name}`")
    cat.drop_table("orders")
    assert cat.list_tables() == []
    assert not os.path.isdir(os.path.join(str(tmp_path / "whd"), "orders"))
    assert not spark.catalog.tableExists(f"`{data_name}`")
    assert not spark.catalog.tableExists(f"`{idx_name}`")
    try:
        cat.drop_table("orders")
        raise AssertionError("second drop must fail loudly")
    except FileNotFoundError:
        pass


def test_admin_truncate_keeps_schema_and_index_specs(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wht"))
    t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
    t.create_index(IndexSpecification("idx_cust").add_column("o_custkey", "Long"))
    cat.save(t, num_partitions=4)
    cat.truncate_table("orders")
    t2 = cat.load("orders")
    assert t2.df.count() == 0
    assert t2.df.columns == t.df.columns
    assert [s.name for s in t2.indices.indices] == ["idx_cust"]
    assert t2.index_tables["idx_cust"].count() == 0
    # a truncated table takes puts and maintains its (empty) index
    puts = spark.createDataFrame([(1, 85)], "o_orderkey long, o_custkey long")
    t3 = t2.put(puts)
    f = fl.SingleColumnValueFilter("o_custkey", fl.EQUAL, 85, filter_if_missing=True)
    assert t3.scan(Scan(filter=f)).count() == 1
    assert t3.last_index_plan.used_indexes == ["idx_cust"]


def test_admin_snapshot_clone_and_restore(spark, sf_dir, tmp_path):
    """HBaseAdmin.cloneSnapshot / restoreSnapshot: clone is an
    independent table; restore rolls the live table back atomically."""
    cat = Catalog(spark, str(tmp_path / "whs"))
    t = Table.from_parquet(spark, f"{sf_dir}/region.parquet", "r_regionkey", "region")
    t.create_index(IndexSpecification("idx_name").add_column("r_name"))
    cat.save(t, num_partitions=2)
    cat.snapshot("region", "s1")
    n0 = t.df.count()
    # mutate the live table past the snapshot
    live = cat.load("region")
    live = live.delete(spark.createDataFrame([(0,), (1,)], "r_regionkey long"))
    cat.save(live, num_partitions=2)
    assert cat.load("region").df.count() == n0 - 2
    # clone: independent copy at snapshot content
    cat.clone_snapshot("region@s1", "region_clone")
    clone = cat.load("region_clone")
    assert clone.df.count() == n0
    assert [s.name for s in clone.indices.indices] == ["idx_name"]
    # restore: live table back to snapshot content, index included
    cat.restore_snapshot("region", "s1")
    restored = cat.load("region")
    assert restored.df.count() == n0
    f = fl.SingleColumnValueFilter("r_name", fl.EQUAL, "AFRICA", filter_if_missing=True)
    assert restored.scan(Scan(filter=f)).count() == 1
    assert restored.last_index_plan.used_indexes == ["idx_name"]


def test_drop_index_then_save_load_full_scans(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "whx"))
    t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
    t.create_index(IndexSpecification("idx_cust").add_column("o_custkey", "Long"))
    cat.save(t, num_partitions=4)
    t2 = cat.load("orders").drop_index("idx_cust")
    cat.save(t2, num_partitions=4)
    t3 = cat.load("orders")
    assert t3.indices.indices == [] and t3.index_tables == {}
    f = fl.SingleColumnValueFilter("o_custkey", fl.EQUAL, 85, filter_if_missing=True)
    expect = t.df.filter(F.col("o_custkey") == 85).count()
    assert t3.scan(Scan(filter=f)).count() == expect
    assert t3.last_index_plan.used_indexes == []


def test_load_mutate_resave_reload_index_stays_consistent(spark, sf_dir, tmp_path):
    # Full persistence lifecycle (the user's actual workflow): load a
    # cataloged table, mutate it (index maintained in the same job),
    # save the new version, reload — the reloaded index must serve a
    # scan that reflects the mutation, and index content must equal the
    # projection of the reloaded data.
    cat = Catalog(spark, str(tmp_path / "wh_cycle"))
    t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
    t.create_index(IndexSpecification("idx_cust").add_column("o_custkey", "Long"))
    cat.save(t, num_partitions=4)

    t1 = cat.load("orders")
    moved = [r["o_orderkey"] for r in
             t1.df.filter(F.col("o_custkey") == 85).limit(2).collect()]
    puts = spark.createDataFrame([(k, 777) for k in moved], "o_orderkey long, o_custkey long")
    t2 = t1.put(puts)
    cat.save(t2, num_partitions=4)

    t3 = cat.load("orders")
    f = fl.SingleColumnValueFilter("o_custkey", fl.EQUAL, 777, filter_if_missing=True)
    out = t3.scan(Scan(filter=f))
    assert t3.last_index_plan.used_indexes == ["idx_cust"]
    assert sorted(r["o_orderkey"] for r in out.collect()) == sorted(moved)
    # no stale entries: the moved keys are gone from the old index value
    f85 = fl.SingleColumnValueFilter("o_custkey", fl.EQUAL, 85, filter_if_missing=True)
    still = {r["o_orderkey"] for r in t3.scan(Scan(filter=f85)).collect()}
    assert not (still & set(moved))
    # index is exactly the projection of the reloaded data
    idx = t3.index_tables["idx_cust"]
    a = sorted((r["o_custkey"], r["o_orderkey"]) for r in idx.collect())
    b = sorted((r["o_custkey"], r["o_orderkey"])
               for r in t3.df.select("o_custkey", "o_orderkey").collect())
    assert a == b


def test_snapshot_preserves_layout_and_families(spark, sf_dir, tmp_path):
    """The snapshot's descriptor must carry the SOURCE table's bucket
    count and family options: restore/clone read the snapshot's
    descriptor, so a defaulted snapshot save silently rewrote the table
    to 32 buckets and dropped every FamilyDescriptor (TTL, max_versions,
    bloom, codec) on restore."""
    from hindex_spark.catalog import FamilyDescriptor

    cat = Catalog(spark, str(tmp_path / "whsl"))
    df = spark.read.parquet(f"{sf_dir}/region.parquet").select(
        "r_regionkey", F.col("r_name").alias("d_name")
    )
    t = Table(df, "r_regionkey", "reg_snap")
    fams = [FamilyDescriptor("d", ttl=3600, max_versions=3, compression="zstd")]
    cat.save(t, num_partitions=2, families=fams)
    cat.snapshot("reg_snap", "s1")

    sdesc = cat._load_desc("reg_snap@s1")
    assert sdesc.num_buckets == 2
    assert [f.name for f in sdesc.families] == ["d"]
    assert sdesc.families[0].ttl == 3600
    assert sdesc.families[0].max_versions == 3
    assert sdesc.families[0].compression == "zstd"

    # restore round-trips the physical descriptor, not just the rows
    cat.restore_snapshot("reg_snap", "s1")
    rdesc = cat._load_desc("reg_snap")
    assert rdesc.num_buckets == 2
    assert [(f.name, f.ttl, f.max_versions) for f in rdesc.families] == [("d", 3600, 3)]


def test_cross_process_save_lease_contention_and_fencing(spark, tmp_path):
    """Cross-host writer mutual exclusion (IndexMasterObserver.java:89-129
    serializes DDL cluster-wide; here a storage-level lease with a
    fencing token stands in). Two Catalog objects share one warehouse;
    the second has its flock stubbed out, simulating a host whose flock
    does not span the shared filesystem. (1) A live lease refuses the
    competitor loudly. (2) A stale lease is taken over, and the original
    (zombie) writer is FENCED at commit time — the takeover's committed
    version survives untouched."""
    import contextlib

    import pytest

    from hindex_spark.catalog import FencedWriterError, SaveContentionError

    wh = str(tmp_path / "wh")
    cat_a = Catalog(spark, wh)
    cat_b = Catalog(spark, wh)
    cat_b._writer_flock = lambda d: contextlib.nullcontext()

    base = spark.createDataFrame([(1, "base")], "k long, v string")
    cat_a.save(Table(base, "k", "t"))

    # (1) B attempts a save while A holds a LIVE lease -> refused
    refused = {}

    def contender():
        try:
            cat_b.save(Table(spark.createDataFrame([(2, "B")], "k long, v string"), "k", "t"))
        except SaveContentionError as e:
            refused["err"] = str(e)

    cat_a._pre_commit_hook = contender
    cat_a.save(Table(spark.createDataFrame([(2, "A")], "k long, v string"), "k", "t"))
    assert "err" in refused and "lease held" in refused["err"]
    assert {(r["k"], r["v"]) for r in cat_a.load("t").df.collect()} == {(2, "A")}

    # (2) A stalls past its TTL mid-save; B breaks the stale lease and
    # commits; A must be fenced at its commit point, not clobber B
    def breaker():
        cat_b.save(
            Table(spark.createDataFrame([(3, "B2")], "k long, v string"), "k", "t"),
            lease_ttl=0.0,
        )

    cat_a._pre_commit_hook = breaker
    with pytest.raises(FencedWriterError):
        cat_a.save(
            Table(spark.createDataFrame([(3, "A2")], "k long, v string"), "k", "t"),
            lease_ttl=0.0,
        )
    del cat_a._pre_commit_hook
    assert {(r["k"], r["v"]) for r in cat_a.load("t").df.collect()} == {(3, "B2")}
    # the zombie's write stayed in its own token-suffixed staging (B's
    # committed version files were NEVER touched — the clobbering the
    # shared-v{N} layout allowed) and B's post-commit sweep reclaimed it
    import glob

    assert glob.glob(f"{wh}/t/**/*.staging*", recursive=True) == []

    # lease is released after both outcomes: a fresh save proceeds
    cat_a.save(Table(spark.createDataFrame([(4, "A3")], "k long, v string"), "k", "t"))
    assert {(r["k"], r["v"]) for r in cat_a.load("t").df.collect()} == {(4, "A3")}
    assert glob.glob(f"{wh}/t/**/*.staging*", recursive=True) == []


def test_dead_same_host_lease_holder_is_immediately_stale(spark, tmp_path):
    """A writer SIGKILLed between lease acquire and release must not
    block later same-host saves for the full TTL: the flock already
    proves no live writer, and a dead pid on this host makes the lease
    stale immediately (cross-host leases still wait out the TTL)."""
    import json as _json
    import socket
    import subprocess
    import time

    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh)
    base = spark.createDataFrame([(1, "x")], "k long, v string")
    cat.save(Table(base, "k", "t"))

    # forge a lease held by a real-but-dead pid on this host, fresh age
    p = subprocess.Popen(["true"])
    p.wait()
    d = str(tmp_path / "wh" / "t")
    with open(cat._lease_path(d), "w") as fh:
        fh.write(_json.dumps({
            "token": "deadbeef", "pid": p.pid,
            "host": socket.gethostname(), "acquired_at": time.time(),
        }))
    # default TTL is 600s — this must NOT wait or raise
    cat.save(Table(spark.createDataFrame([(2, "y")], "k long, v string"), "k", "t"))
    assert {(r["k"], r["v"]) for r in cat.load("t").df.collect()} == {(2, "y")}

    # a LIVE same-host holder still refuses
    from hindex_spark.catalog import SaveContentionError
    import os as _os
    import pytest

    with open(cat._lease_path(d), "w") as fh:
        fh.write(_json.dumps({
            "token": "cafe", "pid": _os.getpid(),
            "host": socket.gethostname(), "acquired_at": time.time(),
        }))
    with pytest.raises(SaveContentionError):
        cat.save(Table(base, "k", "t"))
    _os.remove(cat._lease_path(d))


def test_release_lease_tolerates_corrupt_lease_file(spark, tmp_path):
    """_release_lease runs in save()'s finally: a corrupt/concurrently-
    replaced lease (json.load -> ValueError) must not make a fully
    committed save look failed."""
    import os as _os

    cat = Catalog(spark, str(tmp_path / "wh"))
    d = str(tmp_path / "wh" / "t")
    _os.makedirs(d, exist_ok=True)
    with open(cat._lease_path(d), "w") as fh:
        fh.write("{not json at all")
    cat._release_lease(d, "sometoken")  # must not raise
