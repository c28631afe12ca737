"""Cell-layer semantics: versions, every tombstone kind, TTL, TimeRange,
compaction (TestDelete / TestScanWhenTTLExpired / ScanQueryMatcher model,
F4 fixture)."""

import pytest

from hindex_spark.cells import (
    DELETE_COLUMN,
    DELETE_FAMILY,
    DELETE_ROW,
    DELETE_VERSION,
    cells_from_rows,
)
from hindex_spark.table import CellTable


def _vals(df):
    return sorted(
        (r["rowkey"], r["cf"], r["qualifier"], r["ts"], r["value"]) for r in df.collect()
    )


def _base(spark):
    return CellTable(spark).put_cells(
        [
            ("r1", "cf1", "a", 1, "v1"),
            ("r1", "cf1", "a", 2, "v2"),
            ("r1", "cf1", "a", 3, "v3"),
            ("r1", "cf1", "b", 1, "w1"),
            ("r1", "cf2", "x", 2, "x2"),
            ("r2", "cf1", "a", 5, "z5"),
        ]
    )


def test_latest_version_wins(spark):
    out = _base(spark).read(max_versions=1)
    assert ("r1", "cf1", "a", 3, "v3") in _vals(out)
    assert all(not (v[0] == "r1" and v[2] == "a" and v[3] < 3) for v in _vals(out))


def test_max_versions_n(spark):
    out = _base(spark).read(max_versions=2)
    a_versions = [v for v in _vals(out) if v[0] == "r1" and v[2] == "a"]
    assert [v[3] for v in a_versions] == [2, 3]


def test_time_range(spark):
    out = _base(spark).read(max_versions=10, time_range=(1, 3))  # [1,3)
    a_versions = [v for v in _vals(out) if v[0] == "r1" and v[2] == "a"]
    assert [v[3] for v in a_versions] == [1, 2]


def test_delete_version_masks_exact_ts(spark):
    t = _base(spark).delete_cells([("r1", "cf1", "a", 3, DELETE_VERSION)])
    out = t.read(max_versions=1)
    a = [v for v in _vals(out) if v[0] == "r1" and v[2] == "a"]
    assert a == [("r1", "cf1", "a", 2, "v2")]


def test_delete_column_masks_older(spark):
    t = _base(spark).delete_cells([("r1", "cf1", "a", 2, DELETE_COLUMN)])
    out = t.read(max_versions=10)
    a = [v for v in _vals(out) if v[0] == "r1" and v[2] == "a"]
    assert a == [("r1", "cf1", "a", 3, "v3")]  # only ts>2 survives


def test_delete_family_masks_family_only(spark):
    t = _base(spark).delete_cells([("r1", "cf1", None, 10, DELETE_FAMILY)])
    out = t.read(max_versions=10)
    vals = _vals(out)
    assert not any(v[0] == "r1" and v[1] == "cf1" for v in vals)
    assert ("r1", "cf2", "x", 2, "x2") in vals


def test_delete_row_masks_row(spark):
    t = _base(spark).delete_cells([("r1", None, None, 10, DELETE_ROW)])
    vals = _vals(t.read(max_versions=10))
    assert not any(v[0] == "r1" for v in vals)
    assert any(v[0] == "r2" for v in vals)


def test_put_newer_than_tombstone_visible(spark):
    t = _base(spark).delete_cells([("r1", None, None, 3, DELETE_ROW)])
    t = t.put_cells([("r1", "cf1", "a", 4, "v4")])
    vals = _vals(t.read(max_versions=10))
    r1 = [v for v in vals if v[0] == "r1"]
    assert r1 == [("r1", "cf1", "a", 4, "v4")]


def test_ttl_expiry(spark):
    out = _base(spark).read(max_versions=10, ttl=3, now=6)  # keep ts >= 3
    assert all(v[3] >= 3 for v in _vals(out))


def test_raw_scan_skips_masking(spark):
    t = _base(spark).delete_cells([("r1", None, None, 10, DELETE_ROW)])
    raw = t.read(max_versions=10, raw=True)
    assert any(v[0] == "r1" for v in _vals(raw))


def test_compact_drops_masked_and_old_versions(spark):
    t = _base(spark).delete_cells([("r1", "cf1", "a", 2, DELETE_COLUMN)])
    c = t.compact(max_versions=1)
    vals = _vals(c.cells)
    assert ("r1", "cf1", "a", 3, "v3") in vals
    assert not any(v[0] == "r1" and v[2] == "a" and v[3] <= 2 for v in vals)
    # compacted store has no tombstones
    assert c.cells.filter("op != 'put'").count() == 0


def test_duplicate_coordinate_put_is_one_cell(spark):
    # two puts at the same (row, cf, qual, ts) = one cell (overwrite in
    # place), even with max_versions=2
    t = CellTable(spark).put_cells(
        [
            ("r1", "cf1", "a", 1, "old"),
            ("r1", "cf1", "a", 2, "x"),
            ("r1", "cf1", "a", 2, "y"),  # same coordinate as above
        ]
    )
    out = _vals(t.read(max_versions=2))
    assert out == [("r1", "cf1", "a", 1, "old"), ("r1", "cf1", "a", 2, "y")]


def test_rows_matching_any_version(spark):
    # latestVersionOnly=False: row qualifies if ANY visible version hits
    t = _base(spark)
    # r1 cf1:a has versions v1,v2,v3 — latest is v3; match on old "v1"
    keys = t.rows_matching_any_version("cf1", "a", "=", "v1")
    assert sorted(r["rowkey"] for r in keys.collect()) == ["r1"]
    # latest-only equivalent finds nothing for v1
    latest = t.read(max_versions=1)
    assert (
        latest.filter(
            (latest.cf == "cf1") & (latest.qualifier == "a") & (latest.value == "v1")
        ).count()
        == 0
    )
    # masked versions don't qualify
    from hindex_spark.cells import DELETE_COLUMN

    t2 = t.delete_cells([("r1", "cf1", "a", 3, DELETE_COLUMN)])
    assert t2.rows_matching_any_version("cf1", "a", "=", "v1").count() == 0


def test_snapshot_wide(spark):
    wide = _base(spark).snapshot_wide([("cf1", "a"), ("cf1", "b"), ("cf2", "x")])
    rows = {r["rowkey"]: r for r in wide.collect()}
    assert rows["r1"]["cf1_a"] == "v3"
    assert rows["r1"]["cf1_b"] == "w1"
    assert rows["r1"]["cf2_x"] == "x2"
    assert rows["r2"]["cf1_a"] == "z5"
    assert rows["r2"]["cf1_b"] is None


def test_per_family_ttl_expires_one_family_keeps_sibling(spark):
    # TestScanWhenTTLExpired.testScannerSelectionWhenThereAreMutlipleCFs:160
    # — TTL on one column family; its cells expire while the sibling
    # family's cells stay visible at the same scan time.
    out = _base(spark).read(max_versions=10, ttl={"cf1": 3}, now=6)
    vals = _vals(out)
    # cf1: only ts >= 3 survives (now - ttl = 3)
    assert ("r1", "cf1", "a", 3, "v3") in vals
    assert all(not (v[1] == "cf1" and v[3] < 3) for v in vals)
    # cf2 has no TTL: its ts=2 cell survives
    assert ("r1", "cf2", "x", 2, "x2") in vals


def test_per_family_max_versions(spark):
    # HColumnDescriptor.setMaxVersions is per family; absent families
    # default to 1 (FamilyDescriptor default).
    out = _base(spark).read(max_versions={"cf1": 2})
    vals = _vals(out)
    a_versions = [v for v in vals if v[1] == "cf1" and v[2] == "a" and v[0] == "r1"]
    assert [v[3] for v in a_versions] == [2, 3]  # newest two of ts 1,2,3
    x_versions = [v for v in vals if v[1] == "cf2"]
    assert len(x_versions) == 1  # default 1 for un-listed cf2


def test_ttl_expired_index_scan_returns_nothing(spark):
    # TestScanWhenTTLExpired.testScannerSelectionWhenPutHasOneColumn:109 +
    # testCompactionOnIndexTableShouldNotRetrieveTTLExpiredData:224 — after
    # TTL expiry an index-backed value scan retrieves ZERO rows: the index
    # is a projection of the TTL-resolved store, so expired rows have no
    # index entries and no stale seek points survive compaction.
    from pyspark.sql import functions as F

    from hindex_spark import cells as cell_mod
    from hindex_spark import filters as fl
    from hindex_spark.index.spec import IndexSpecification
    from hindex_spark.table import Scan

    ct = CellTable(spark).put_cells(
        [
            ("row1", "col", "q1", 1, "Val"),
            ("row01", "col", "q1", 1, "Val"),
            ("row010", "col", "q1", 2, "Val"),
            ("row001", "col", "q1", 2, "Val"),
        ]
    )
    # compaction at now=10 with ttl=5: every cell (ts <= 2 < now-ttl) drops
    compacted = cell_mod.compact(ct.cells, max_versions=1, ttl={"col": 5}, now=10)
    t = CellTable(spark, compacted).as_table([("col", "q1")])
    t.create_index(IndexSpecification("ScanIndexf").add_column("col_q1", "String"))
    got = t.scan(
        Scan(filter=fl.SingleColumnValueFilter("col_q1", fl.EQUAL, "Val", filter_if_missing=True))
    )
    assert got.count() == 0
    assert t.index_tables["ScanIndexf"].count() == 0  # no stale seek points
    # same store before expiry: all four rows come back through the index
    fresh = cell_mod.compact(ct.cells, max_versions=1, ttl={"col": 5}, now=4)
    t2 = CellTable(spark, fresh).as_table([("col", "q1")])
    t2.create_index(IndexSpecification("ScanIndexf").add_column("col_q1", "String"))
    got2 = t2.scan(
        Scan(filter=fl.SingleColumnValueFilter("col_q1", fl.EQUAL, "Val", filter_if_missing=True))
    )
    assert got2.count() == 4
    assert t2.last_index_plan.used_indexes == ["ScanIndexf"]


def test_cells_are_a_jvm_local_relation(spark):
    # resolve scans its input once per tombstone kind: the cells must be
    # a LocalRelation (scanned in the JVM, with real size statistics),
    # not a parallelized Python list that a Python worker decodes in
    # every one of those scans
    t = _base(spark).delete_cells([("r1", "cf1", "a", 2, DELETE_COLUMN)])
    plan = t.cells._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    with pytest.raises(ValueError, match="not nullable"):
        CellTable(spark).put_cells([(None, "cf1", "a", 1, "v")])
    with pytest.raises(ValueError, match="fields"):
        cells_from_rows(spark, [("r1", "cf1", "a", 1, "put")])
