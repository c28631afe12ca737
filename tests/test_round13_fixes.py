"""Round-13 optimization internals: DedupState's band side table
(maintenance parity across every mutation verb + the bucket-pruned
batch read) and the dsir/linkage changes of this round."""

import pytest
from pyspark.sql import functions as F

from hindex_spark.catalog import Catalog
from hindex_spark.operators.dedup import _band_rows, incremental_dedup
from hindex_spark.operators.dedup_state import DedupState


@pytest.fixture()
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _band_parity(st):
    """The stored band side table must equal the banding explode of the
    live state exactly — (id, gen, band, bucket) sets."""
    want = sorted(
        map(tuple, _band_rows(st.df.drop("__fp"), "doc_id", st.band_size,
                              extra_cols=("gen",))
            .select("doc_id", "gen", "band", "bucket").collect())
    )
    got = sorted(
        map(tuple, st.bands.select("doc_id", "gen", "band", "bucket")
            .collect())
    )
    assert want == got and len(got) > 0


def test_band_side_table_maintenance_parity(spark, docs, tmp_path):
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    cat = Catalog(spark, str(tmp_path / "wh"))
    st = DedupState.build(cat, corpus, "doc_id", "text", "p",
                          n_hashes=16, band_size=4)
    _band_parity(st)
    st.update(batch.limit(10))
    _band_parity(st)
    st.upsert(docs.filter(F.col("doc_id") % 13 == 0).limit(8))
    _band_parity(st)
    st.delete(docs.select("doc_id").limit(4))
    _band_parity(st)
    st.compact()
    _band_parity(st)
    # bk is the pruning key contract: pmod(xxhash64(band, bucket), mod)
    bad = st.bands.filter(
        F.col("bk")
        != F.pmod(F.xxhash64("band", "bucket"), F.lit(st.band_mod))
        .cast("int")
    ).count()
    assert bad == 0
    # reopened handles keep the band layout
    assert DedupState.open(cat, "p").band_mod == st.band_mod


def test_dedup_batch_band_pruning_and_identity(spark, docs, tmp_path):
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    cat = Catalog(spark, str(tmp_path / "wh"))
    st = DedupState.build(cat, corpus, "doc_id", "text", "q",
                          n_hashes=16, band_size=4)
    out = st.dedup_batch(batch, corpus, 0.9)
    # result identical to the recompute path at the same settings
    a = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in incremental_dedup(batch, corpus, "doc_id", "text", 0.9,
                                   n_hashes=16, band_size=4,
                                   max_bucket=4096).collect()
    )
    assert a == b
    # the state's near-dup read is the band side table with the batch's
    # touched-bk IN list pushed into the scan (bucket-file pruning,
    # SPARK-32985 applies it even when the planner disables the
    # bucketed-scan output partitioning)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_dedupstate_bands_bucketed" in plan
    assert "In(bk, [" in plan or "EqualTo(bk," in plan

def test_state_scaled_partitions_derivation_and_restore(spark):
    """state_scaled_partitions sizes streaming state partitions from
    input volume (floor 4, one per 32 MB, cap 4x parallelism) and
    restores the session conf on exit — including on error."""
    from hindex_spark.streaming.ingest import state_scaled_partitions

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    par = spark.sparkContext.defaultParallelism
    floor = max(1, min(4, par))
    with state_scaled_partitions(spark, 10) as n:
        assert n == floor
        assert spark.conf.get(key) == str(floor)
    assert spark.conf.get(key) == before
    with state_scaled_partitions(spark, 20 * 32 * 1024 * 1024) as n:
        assert n == max(floor, min(20, 4 * par))
    assert spark.conf.get(key) == before
    # cap: an enormous stream is bounded by 4x parallelism
    with state_scaled_partitions(spark, 10**15) as n:
        assert n == 4 * par
    # restore survives an exception inside the context
    try:
        with state_scaled_partitions(spark, 10):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before


def test_dir_bytes_walks_partition_directories(spark, tmp_path):
    """A partitionBy source keeps its payload one level down
    (``k=v/part-*.parquet``): dir_bytes must sum it, or
    state_scaled_partitions would size the stream at 0 bytes. Marker
    files and the ``_``-prefixed metadata directory stay excluded."""
    import os

    from hindex_spark.streaming.ingest import dir_bytes

    src = tmp_path / "src"
    spark.range(200).select(
        (F.col("id") % 3).alias("k"), F.col("id")
    ).write.partitionBy("k").parquet(str(src))
    (src / "_spark_metadata").mkdir()
    (src / "_spark_metadata" / "0").write_text("x" * 1000)
    want = 0
    for root, _, files in os.walk(src):
        if "_spark_metadata" in root:
            continue
        want += sum(os.path.getsize(os.path.join(root, f))
                    for f in files if f.endswith(".parquet"))
    assert want > 0
    assert dir_bytes(str(src)) == want
