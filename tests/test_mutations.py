"""Mutation batch semantics (TestExtendedPutOps / checkAnd* / Increment /
Append model) on the wide table layer."""

from pyspark.sql import functions as F

from hindex_spark import filters as fl
from hindex_spark.table import Table


def _tab(spark):
    df = spark.createDataFrame(
        [("r1", "a1", 10, "s1"), ("r2", "a2", 20, "s2"), ("r3", None, 30, "s3")],
        ["rowkey", "c_str", "c_cnt", "c_app"],
    )
    return Table(df, "rowkey", "t")


def _row(t, key):
    rows = t.df.filter(F.col("rowkey") == key).collect()
    return rows[0] if rows else None


def test_put_partial_columns_preserves_others(spark):
    t = _tab(spark)
    puts = spark.createDataFrame([("r1", "A1")], ["rowkey", "c_str"])
    t2 = t.put(puts)
    r = _row(t2, "r1")
    assert r["c_str"] == "A1" and r["c_cnt"] == 10 and r["c_app"] == "s1"


def test_put_new_row(spark):
    t = _tab(spark)
    puts = spark.createDataFrame([("r9", "new")], ["rowkey", "c_str"])
    t2 = t.put(puts)
    r = _row(t2, "r9")
    assert r["c_str"] == "new" and r["c_cnt"] is None
    assert t2.df.count() == 4


def test_delete(spark):
    t = _tab(spark)
    t2 = t.delete(spark.createDataFrame([("r2",)], ["rowkey"]))
    assert t2.df.count() == 2 and _row(t2, "r2") is None


def test_increment_existing_and_new(spark):
    t = _tab(spark)
    incs = spark.createDataFrame([("r1", 5), ("r9", 7)], ["rowkey", "c_cnt"])
    t2 = t.increment(incs)
    assert _row(t2, "r1")["c_cnt"] == 15
    assert _row(t2, "r9")["c_cnt"] == 7  # created with coalesce(old,0)+delta


def test_append(spark):
    t = _tab(spark)
    apps = spark.createDataFrame([("r1", "-x")], ["rowkey", "c_app"])
    t2 = t.append(apps)
    assert _row(t2, "r1")["c_app"] == "s1-x"


def test_check_and_put_applies_only_when_check_passes(spark):
    t = _tab(spark)
    puts = spark.createDataFrame([("r1", "yes"), ("r2", "yes")], ["rowkey", "c_str"])
    # condition: c_cnt > 15 — true for r2 only
    t2 = t.check_and_put("c_cnt", fl.GREATER, 15, puts)
    assert _row(t2, "r1")["c_str"] == "a1"
    assert _row(t2, "r2")["c_str"] == "yes"


def test_check_and_put_null_check(spark):
    t = _tab(spark)
    puts = spark.createDataFrame([("r3", "filled"), ("r1", "filled")], ["rowkey", "c_str"])
    t2 = t.check_and_put("c_str", fl.EQUAL, None, puts)  # only where c_str IS NULL
    assert _row(t2, "r3")["c_str"] == "filled"
    assert _row(t2, "r1")["c_str"] == "a1"


def test_check_and_delete(spark):
    t = _tab(spark)
    keys = spark.createDataFrame([("r1",), ("r2",)], ["rowkey"])
    t2 = t.check_and_delete("c_cnt", fl.EQUAL, 20, keys)
    assert _row(t2, "r1") is not None and _row(t2, "r2") is None


def test_mutate_row_atomic_batch(spark):
    t = _tab(spark)
    t2 = t.mutate_row(
        puts=spark.createDataFrame([("r1", "m1")], ["rowkey", "c_str"]),
        deletes=spark.createDataFrame([("r3",)], ["rowkey"]),
    )
    assert _row(t2, "r1")["c_str"] == "m1" and _row(t2, "r3") is None


def test_index_never_lags_table_through_mutation_sequence(spark):
    # TestAcidGuaranteesForIndex analog for the batch-snapshot model:
    # after EVERY mutation, each index's content == the projection of
    # table content it derives from — a one-column index and a
    # two-column index (entries exist while the LEADING column is
    # non-null; a partial put must re-derive them from the surviving
    # old value of the other column).
    from hindex_spark.index.spec import IndexSpecification

    t = _tab(spark)
    t.create_index(IndexSpecification("idx_cnt").add_column("c_cnt", "Int"))
    t.create_index(
        IndexSpecification("idx_str_app")
        .add_column("c_str", "String", 8)
        .add_column("c_app", "String", 8)
    )

    def check(tab):
        idx = {(r["c_cnt"], r["rowkey"]) for r in tab.index_tables["idx_cnt"].collect()}
        tbl = {
            (r["c_cnt"], r["rowkey"])
            for r in tab.df.filter(F.col("c_cnt").isNotNull()).collect()
        }
        assert idx == tbl
        idx2 = {
            (r["c_str"], r["c_app"], r["rowkey"])
            for r in tab.index_tables["idx_str_app"].collect()
        }
        tbl2 = {
            (r["c_str"], r["c_app"], r["rowkey"])
            for r in tab.df.filter(F.col("c_str").isNotNull()).collect()
        }
        assert idx2 == tbl2

    t = t.put(spark.createDataFrame([("r1", 11)], ["rowkey", "c_cnt"]))
    check(t)
    # partial put of the leading column only: r3's entry appears, built
    # from the batch's c_str and r3's surviving old c_app
    t = t.put(spark.createDataFrame([("r3", "a3")], ["rowkey", "c_str"]))
    check(t)
    assert _row(t, "r3")["c_app"] == "s3"
    t = t.increment(spark.createDataFrame([("r2", 100)], ["rowkey", "c_cnt"]))
    check(t)
    # append to the trailing column: existing rows re-derive their
    # entry; r9 is created with a NULL leading column (no entry)
    t = t.append(
        spark.createDataFrame([("r1", "+x"), ("r9", "new")], ["rowkey", "c_app"])
    )
    check(t)
    assert _row(t, "r1")["c_app"] == "s1+x"
    # clearing the leading column drops the row's two-column entry;
    # clearing the trailing one re-derives it with a NULL c_app
    t = t.delete_columns(spark.createDataFrame([("r2",)], ["rowkey"]), ["c_str"])
    check(t)
    t = t.delete_columns(spark.createDataFrame([("r3",)], ["rowkey"]), ["c_app"])
    check(t)
    t = t.delete(spark.createDataFrame([("r3",)], ["rowkey"]))
    check(t)
    t = t.check_and_put(
        "c_cnt", fl.GREATER, 50, spark.createDataFrame([("r2", 0)], ["rowkey", "c_cnt"])
    )
    check(t)


def test_delete_nonexistent_key_is_noop(spark):
    t = _tab(spark)
    t2 = t.delete(spark.createDataFrame([("zzz",)], ["rowkey"]))
    assert t2.df.count() == t.df.count()


def test_append_creates_missing_row(spark):
    t = _tab(spark)
    t2 = t.append(spark.createDataFrame([("r9", "new")], ["rowkey", "c_app"]))
    assert _row(t2, "r9")["c_app"] == "new"  # coalesce(old,'')+new


def test_increment_null_column_treated_as_zero(spark):
    df = spark.createDataFrame([("r1", None)], "rowkey string, c_cnt int")
    from hindex_spark.table import Table

    t2 = Table(df, "rowkey").increment(
        spark.createDataFrame([("r1", 5)], ["rowkey", "c_cnt"])
    )
    assert t2.df.collect()[0]["c_cnt"] == 5


def test_multi_put_same_key_collapses(spark):
    t = _tab(spark)
    puts = spark.createDataFrame(
        [("r1", "p1", None), ("r1", None, 99)], ["rowkey", "c_str", "c_cnt"]
    )
    t2 = t.put(puts)
    r = _row(t2, "r1")
    assert r["c_str"] == "p1" and r["c_cnt"] == 99


def test_check_and_mutate_gates_puts_and_deletes_together(spark):
    # HRegion.checkAndMutate:2716 — one condition gates a mixed
    # RowMutations: r1 (c_cnt=10, fails >15) untouched by BOTH its put
    # and its delete; r2 (20, passes) gets deleted; r3 (30, passes)
    # gets its put.
    t = _tab(spark)
    puts = spark.createDataFrame([("r1", "NEW"), ("r3", "NEW3")], ["rowkey", "c_str"])
    dels = spark.createDataFrame([("r1",), ("r2",)], ["rowkey"])
    t2 = t.check_and_mutate("c_cnt", fl.GREATER, 15, puts=puts, deletes=dels)
    assert _row(t2, "r1")["c_str"] == "a1"      # check failed: no put, no delete
    assert _row(t2, "r2") is None               # check passed: deleted
    assert _row(t2, "r3")["c_str"] == "NEW3"    # check passed: put applied
    assert t2.df.count() == 2


def test_check_and_mutate_pre_state_gate(spark):
    # the gate is the PRE-batch snapshot: a delete of the checked row in
    # the same batch must not stop the row's own put from being gated in.
    t = _tab(spark)
    puts = spark.createDataFrame([("r2", "RESET")], ["rowkey", "c_str"])
    dels = spark.createDataFrame([("r2",)], ["rowkey"])
    t2 = t.check_and_mutate("c_cnt", fl.GREATER, 15, puts=puts, deletes=dels)
    # delete-then-put (RowMutations order): row re-inserted with only
    # the put's columns
    r = _row(t2, "r2")
    assert r is not None and r["c_str"] == "RESET" and r["c_cnt"] is None


def test_batch_mixed_ops_status(spark):
    t = _tab(spark)
    ops = spark.createDataFrame(
        [("get", "r1", None), ("get", "rX", None), ("put", "r2", "P2"), ("delete", "r3", None)],
        ["op", "rowkey", "c_str"],
    )
    t2, results = t.batch(ops)
    st = {(r["op"], r["rowkey"]): r for r in results.collect()}
    assert st[("get", "r1")]["ok"] is True and st[("get", "r1")]["c_str"] == "a1"
    assert st[("get", "rX")]["ok"] is False
    assert st[("put", "r2")]["ok"] is True and st[("put", "r2")]["c_str"] is None
    assert st[("delete", "r3")]["ok"] is True
    assert _row(t2, "r2")["c_str"] == "P2"
    assert _row(t2, "r3") is None


def test_batch_rejects_unknown_op_and_column(spark):
    import pytest

    t = _tab(spark)
    with pytest.raises(ValueError, match="unsupported batch ops"):
        t.batch(spark.createDataFrame([("merge", "r1")], ["op", "rowkey"]))
    with pytest.raises(ValueError, match="not in table"):
        t.batch(spark.createDataFrame([("put", "r1", 1)], ["op", "rowkey", "nope"]))


def _famtab(spark):
    df = spark.createDataFrame(
        [
            ("r1", "a", "b", "x", "y"),
            ("r2", "c", "d", None, "z"),
            ("r3", "e", "f", None, None),  # only f1 cells
            ("r4", None, None, "w", "v"),  # only f2 cells
        ],
        ["rowkey", "f1_a", "f1_b", "f2_c", "f2_d"],
    )
    return Table(df, "rowkey", "fam")


def test_delete_family_clears_cells_and_drops_empty_rows(spark):
    t = _famtab(spark)
    keys = spark.createDataFrame([("r1",), ("r3",)], ["rowkey"])
    t2 = t.delete_family(keys, "f1")
    got = {r["rowkey"]: (r["f1_a"], r["f1_b"], r["f2_c"], r["f2_d"])
           for r in t2.df.collect()}
    assert got["r1"] == (None, None, "x", "y")  # f1 cleared, f2 kept
    assert "r3" not in got  # last cells cleared -> row gone
    assert got["r2"] == ("c", "d", None, "z")  # untouched
    assert got["r4"] == (None, None, "w", "v")


def test_delete_columns_partial_and_validation(spark):
    import pytest

    t = _famtab(spark)
    keys = spark.createDataFrame([("r2",)], ["rowkey"])
    t2 = t.delete_columns(keys, ["f1_b"])
    r = {x["rowkey"]: x for x in t2.df.collect()}["r2"]
    assert r["f1_b"] is None and r["f1_a"] == "c" and r["f2_d"] == "z"
    with pytest.raises(ValueError, match="not deletable"):
        t.delete_columns(keys, ["rowkey"])
    with pytest.raises(ValueError, match="not deletable"):
        t.delete_columns(keys, ["nope"])
    with pytest.raises(ValueError, match="no columns of family"):
        t.delete_family(keys, "f9")


def test_delete_family_maintains_spanning_index(spark):
    from hindex_spark.index.spec import IndexSpecification

    t = _famtab(spark)
    t.create_index(IndexSpecification("idx_xf").add_column("f2_c").add_column("f1_a"))
    t.create_index(IndexSpecification("idx_f1").add_column("f1_a"))
    keys = spark.createDataFrame([("r1",), ("r3",)], ["rowkey"])
    t2 = t.delete_family(keys, "f1")
    # idx_f1: affected entries dropped (leading column cleared)
    f1_keys = {r["rowkey"] for r in t2.index_tables["idx_f1"].collect()}
    assert f1_keys == {"r2"}
    # idx_xf: r1 stays reachable via its surviving f2 data, with NULL f1_a
    xf = {r["rowkey"]: (r["f2_c"], r["f1_a"]) for r in t2.index_tables["idx_xf"].collect()}
    assert xf["r1"] == ("x", None)
    assert "r3" not in xf and xf["r4"] == ("w", None)


def test_delete_family_replicates_through_changelog(spark, tmp_path):
    from hindex_spark.streaming.ingest import replay_changelog

    base = _famtab(spark).df
    log = str(tmp_path / "log")
    src = Table(base, "rowkey", "fam").enable_changelog(log)
    src = src.delete_family(
        spark.createDataFrame([("r1",), ("r3",)], ["rowkey"]), "f1"
    )
    src = src.put(spark.createDataFrame([("r1", "back")], ["rowkey", "f1_a"]))
    peer = Table(base, "rowkey", "peer")
    replayed = replay_changelog(spark, peer, log, src.changelog_schema).table.df
    # peer must equal source: cleared cells NULL, r3 gone, later put applied
    assert replayed.exceptAll(src.df).isEmpty()
    assert src.df.exceptAll(replayed).isEmpty()
    got = {r["rowkey"]: (r["f1_a"], r["f1_b"]) for r in replayed.collect()}
    assert got["r1"] == ("back", None) and "r3" not in got


def test_repeated_rows_in_batch_latest_wins_with_order_col(spark):
    # TestIndexRegionObserver.testBulkPutWithRepeatedRows:448 — batches with
    # repeated rowkeys must leave ONE row per key, and the later put (by
    # batch order / cell timestamp) must win. order_col is the timestamp
    # analog: deterministic under any shuffle of the batch plan.
    t = _tab(spark)
    puts = spark.createDataFrame(
        [
            ("r1", "first", None, 1),
            ("r1", "second", 77, 2),
            ("r1", None, 88, 3),      # later but NULL c_str: keeps "second"
            ("r9", "new", None, 1),
            ("r9", "newer", None, 2),
        ],
        ["rowkey", "c_str", "c_cnt", "ver"],
    )
    # shuffle the batch hard — order must still come from ver, not layout
    t2 = t.put(puts.repartition(7).sortWithinPartitions("c_cnt"), order_col="ver")
    assert t2.df.filter(F.col("rowkey") == "r1").count() == 1
    r = _row(t2, "r1")
    assert r["c_str"] == "second" and r["c_cnt"] == 88
    assert _row(t2, "r9")["c_str"] == "newer"
    # order column never leaks into the table
    assert "ver" not in t2.df.columns and "__put_seq" not in t2.df.columns


def test_repeated_rows_default_order_is_arrival_order(spark):
    t = _tab(spark)
    puts = spark.createDataFrame(
        [("r1", "v1"), ("r1", "v2"), ("r1", "v3")], ["rowkey", "c_str"]
    )
    t2 = t.put(puts)
    assert _row(t2, "r1")["c_str"] == "v3"


def test_repeated_rows_batch_maintains_index_consistent(spark):
    # the index half of testBulkPutWithRepeatedRows: after a repeated-rows
    # batch the index has exactly one entry per surviving row value.
    from hindex_spark.index.spec import IndexSpecification, TableIndices

    t = Table(_tab(spark).df, "rowkey", "t")
    t = t.create_index(IndexSpecification("idx_str").add_column("c_str", "String"))
    puts = spark.createDataFrame(
        [("r1", "x", 1), ("r1", "y", 2), ("r4", "z", 1)],
        ["rowkey", "c_str", "ver"],
    )
    t2 = t.put(puts, order_col="ver")
    idx = t2.index_tables["idx_str"]
    assert idx.filter(F.col("rowkey") == "r1").count() == 1
    assert idx.filter((F.col("rowkey") == "r1") & (F.col("c_str") == "y")).count() == 1
    # one index entry per row with a non-NULL indexed value (a put without
    # the indexed column creates no index entry — IndexUtils.prepareIndexPut)
    assert idx.count() == t2.df.filter(F.col("c_str").isNotNull()).count()


def test_acid_row_atomicity_and_snapshot_isolation(spark):
    # TestAcidGuaranteesForIndex model: a writer sets ALL columns of a row
    # to one value in a single batch; a reader must never observe a torn
    # row (mixed values across columns), and the index must agree with the
    # data snapshot it shipped with. The engine gives this by construction
    # — every mutation is snapshot-in/snapshot-out (MVCC analog) — this
    # test pins the contract.
    from hindex_spark.index.spec import IndexSpecification

    cols = ["A_data", "B_data", "C_data"]
    t = Table(
        spark.createDataFrame([("r%d" % i, "v0", "v0", "v0") for i in range(20)],
                              ["rowkey"] + cols),
        "rowkey", "acid",
    ).create_index(IndexSpecification("ScanIndex").add_column("A_data", "String"))

    snapshots = [t]
    for v in ("v1", "v2"):
        puts = spark.createDataFrame([("r%d" % i, v, v, v) for i in range(20)],
                                     ["rowkey"] + cols)
        t = t.put(puts)
        snapshots.append(t)

    for snap, expect in zip(snapshots, ("v0", "v1", "v2")):
        # no torn rows: every column of every row carries the same value
        torn = snap.df.filter(
            (F.col("A_data") != F.col("B_data")) | (F.col("B_data") != F.col("C_data"))
        ).count()
        assert torn == 0
        assert snap.df.filter(F.col("A_data") == expect).count() == 20
        # index agrees with ITS OWN snapshot, not the latest write
        idx = snap.index_tables["ScanIndex"]
        assert idx.filter(F.col("A_data") == expect).count() == 20
        assert idx.count() == 20
    # earlier snapshots were not disturbed by later writes (reader isolation)
    assert snapshots[0].df.filter(F.col("A_data") == "v0").count() == 20


def test_put_with_null_order_col_still_applies(spark):
    # A row whose ORDER_COL is NULL must still apply (at lowest
    # precedence) — max_by over a bare NULL ordering key would skip it,
    # silently dropping the put (new keys became all-NULL ghosts,
    # existing keys kept their old value).
    t = _tab(spark)
    puts = spark.createDataFrame(
        [
            ("r1", "seqless", None),      # existing key, NULL seq: applies
            ("r9", "ghost_no_more", None),  # new key, NULL seq: full row
            ("r2", "a", 1),
            ("r2", "b", None),            # NULL seq loses to ver=1
        ],
        "rowkey string, c_str string, ver int",
    )
    t2 = t.put(puts, order_col="ver")
    assert _row(t2, "r1")["c_str"] == "seqless"
    assert _row(t2, "r9")["c_str"] == "ghost_no_more"
    assert _row(t2, "r2")["c_str"] == "a"  # sequenced row beats NULL-seq


def test_exists_single_and_batch(spark, sf_dir):
    """HTable.exists(Get) / exists(List<Get>) (HTable.java:675,693):
    presence without row transfer; the batch form is ONE join, one
    boolean per probed key."""
    from hindex_spark.table import Table

    t = Table.from_parquet(spark, f"{sf_dir}/orders.parquet", "o_orderkey", "orders")
    assert t.exists(1) is True
    assert t.exists(-99) is False
    probes = spark.createDataFrame([(1,), (2,), (-99,)], ["o_orderkey"])
    got = {r["o_orderkey"]: r["exists"] for r in t.exists_batch(probes).collect()}
    assert got == {1: True, 2: True, -99: False}


def test_auto_checkpoint_bounds_chained_mutation_plans(spark):
    # Long interactive verb chains must not grow the physical plan (and
    # its exchange count) without bound: after AUTO_CHECKPOINT_EVERY
    # chained mutations the lineage is truncated (localCheckpoint,
    # non-eager), matching StreamingIngest's checkpoint_every discipline.
    from hindex_spark.index.spec import IndexSpecification

    def chain(t):
        for i in range(6):
            puts = spark.createDataFrame([("r1", f"v{i}")], ["rowkey", "c_str"])
            t = t.put(puts)
        return t

    t = _tab(spark)
    t.create_index(IndexSpecification("ix").add_column("c_str"))
    bounded = chain(t)
    p_bounded = bounded.df._jdf.queryExecution().executedPlan().toString()

    old = Table.AUTO_CHECKPOINT_EVERY
    Table.AUTO_CHECKPOINT_EVERY = 0
    try:
        t2 = _tab(spark)
        t2.create_index(IndexSpecification("ix").add_column("c_str"))
        unbounded = chain(t2)
        p_unbounded = unbounded.df._jdf.queryExecution().executedPlan().toString()
    finally:
        Table.AUTO_CHECKPOINT_EVERY = old

    assert p_bounded.count("Exchange") * 2 <= p_unbounded.count("Exchange")
    # truncation must not change results — same final rows either way
    assert sorted(map(tuple, bounded.df.collect())) == sorted(
        map(tuple, unbounded.df.collect())
    )
    # explicit eager checkpoint keeps data and indexes intact
    cp = bounded.checkpoint()
    assert sorted(map(tuple, cp.df.collect())) == sorted(
        map(tuple, bounded.df.collect())
    )
    assert cp.index_tables["ix"].count() == bounded.index_tables["ix"].count()
