"""Decompose AnnIndex ADC serving cost at a given SF: per-phase wall
time for the repeated query-batch path, so a stored-serving drift can
be attributed (probe collect vs LocalRelation build vs plan execute vs
the per-call table refresh / centroid re-read overhead).

Usage:
    python tools/ann_serving_profile.py [sf_dir] [repeats]

Prints one JSON line with min-of-N seconds per phase:
    refresh      — _raw() (tableExists + refreshTable)
    centroids    — the centroid parquet read (schema + collect)
    probe_collect— _probe_frame(slim).collect()
    enrich       — _enrich_probes numpy + createDataFrame
    execute      — full topk(method='adc') minus the above (the plan run)
    total        — full topk(method='adc') end to end
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "benchdata", "sf1",
    )
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from pyspark.sql import functions as F

    from hindex_spark.catalog import Catalog
    from hindex_spark.operators.ann_index import AnnIndex
    from hindex_spark.session import get_spark

    spark = get_spark("ann_profile")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.count()
    wh = tempfile.mkdtemp(prefix="ann_profile_wh_")
    cat = Catalog(spark, wh)
    ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "prof_vecs",
                        n_clusters=16, iters=2, pq_m=4, pq_k=16)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).cache()
    queries.count()

    def mn(fn, n=repeats):
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 4)

    out = {"sf_dir": sf_dir, "n_vectors": emb.count()}
    out["refresh"] = mn(lambda: ix._raw())
    out["centroids"] = mn(lambda: ix.centroids.collect())
    rows_holder = {}

    def probe():
        rows_holder["rows"] = ix._probe_frame(
            queries, 2, "q_id", "q_vec", slim=True).collect()

    out["probe_collect"] = mn(probe)
    rows = rows_holder["rows"]
    out["enrich"] = mn(
        lambda: ix._enrich_probes(rows, "q_id", "q_vec", queries))
    out["total"] = mn(
        lambda: ix.topk(queries, 10, nprobe=2, method="adc",
                        shortlist=100).collect())
    out["execute_derived"] = round(
        out["total"] - out["refresh"] - out["centroids"]
        - out["probe_collect"] - out["enrich"], 4)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
