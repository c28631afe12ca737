"""Persisted IVF vector index — ANN search without the corpus scan.

``ivf_build``/``ivf_topk`` (operators/similarity.py) are correct but
per-query: every search pays centroid training and a FULL-corpus
nearest-centroid assignment. At 100 TB of embeddings a 10-vector query
must not rescan (or worse, re-cluster) the corpus. ``AnnIndex`` is the
catalog artifact that removes both costs — the inverted-file layout of
Jégou et al. (Product Quantization for Nearest Neighbor Search, IEEE
TPAMI 2011, §IV) expressed in this engine's artifact pattern
(operators/artifact.py):

- **Train + assign once.** ``build()`` runs the bounded-sample k-means
  and the single full-corpus assignment, then persists the vectors
  CLUSTER-PARTITIONED: one bucketed table (cluster, id, vector),
  bucketed AND sorted on ``cluster``.
- **Probes read only their clusters' buckets.** ``topk()`` scores the
  query set against the (tiny, persisted) centroid table, collects the
  probed cluster ids — bounded by ``n_clusters`` however many queries
  there are — and scans ``cluster IN (...)``: bucket pruning keeps all
  other buckets unread (SelectedBucketsCount in the plan, the same
  mechanism as SearchIndex's token pruning) and the within-bucket
  cluster sort prunes row groups on top. Per-query cost is
  O(N * nprobe / n_clusters) in *bytes read*, not just rows scored.
- **Batches append.** ``update()`` assigns new vectors to the FROZEN
  centroids (one batch-sized pass — standard IVF practice: the
  partition is trained once, drift is handled by periodic ``build()``
  retrains) and INSERT INTOs, which honors the bucket spec. History is
  never rewritten; ``compact()`` folds multi-file buckets back to one
  file per bucket.

Result identity: ``topk(nprobe = n_clusters)`` must EXACTLY equal
``brute_force_topk`` (every inverted list probed), which makes the
whole persist/open/probe path oracle-checkable — the driver gate runs
it against the same DuckDB brute-force SQL as the in-memory IVF gate.

Concurrency: every mutation (build's save, update, compact) runs under
the catalog writer lease (same-host flock + cross-host TTL lease with
fence token), and the bucketed registration self-repairs on a fresh
SparkSession from the persisted meta (operators/artifact.py).
"""

from __future__ import annotations

import os
from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hindex_spark.operators.artifact import KeyedStore, clear_tombstones
from hindex_spark.operators.dedup import cosine_expr
from hindex_spark.operators.similarity import ivf_build, ivf_topk
from hindex_spark.session import local_frame


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(cluster, id, vector) for each input vector: nearest centroid by
    cosine, ties broken on the lower cluster id (exactly ivf_build's
    final-assignment expression — the shared ``nearest_centroid``
    map-side-combined aggregate — so an appended batch lands in the
    same cluster a build-time assignment would have chosen). One
    broadcast of the centroid set + one narrow row per input vector
    through the exchange — no corpus access, no wide sort."""
    from hindex_spark.operators.similarity import nearest_centroid

    return nearest_centroid(
        vectors, centroids, id_col, vec_col, keep_vector=True
    ).select("cluster", F.col(id_col), F.col(vec_col))


def _train_residual_codebooks(embeddings, centroids, id_col, vec_col,
                              m, k, sample_size, iters):
    """Residual PQ codebooks (IVFADC): per-subspace k-means on
    (vec - nearest centroid) over a bounded hash-sample — the residual
    geometry is what the quantizer must cover, not the raw vectors'.
    Driver state: sample_size x dim doubles, same bound as pq_train."""
    import numpy as np

    from hindex_spark.operators.similarity import (
        _estimate_rows,
        _pq_kmeans,
        nearest_centroid,
    )

    n = _estimate_rows(embeddings)
    mod = max(1, n // sample_size) if n > sample_size else 1
    samp = embeddings
    if mod > 1:
        samp = embeddings.filter(
            F.pmod(F.hash(F.col(id_col)), F.lit(mod)) == 0
        )
    samp = samp.orderBy(id_col).limit(sample_size)
    rows = (
        nearest_centroid(samp, centroids, id_col, vec_col, keep_vector=True)
        .join(F.broadcast(centroids), "cluster")
        .select(vec_col, "centroid")
        .collect()
    )
    X = np.asarray([
        [float(v) - float(c) for v, c in zip(r[vec_col], r["centroid"])]
        for r in rows
    ])
    return _pq_kmeans(X, m, k, iters)


class AnnIndex(KeyedStore):
    """Handle to a persisted IVF index inside a ``Catalog``.

    Lifecycle::

        ix = AnnIndex.build(cat, emb, "vec_id", "embedding", "docs",
                            n_clusters=16)
        hits = ix.topk(queries_df, k=10, nprobe=2)
        ix.update(new_vectors)          # frozen-centroid append
        ix = AnnIndex.open(cat, "docs")   # next session / next day

    A re-embedded vector typically CHANGES cluster, so its old row
    lives in a different bucket than the new one — replacement
    (``upsert``) must be a tombstone cut, not an in-place rewrite.
    """

    kind = "annindex"
    bucket_col = "cluster"

    def _meta(self) -> dict:
        return {**super()._meta(), "vec_col": self.vec_col,
                "n_clusters": self.n_clusters,
                "pq_codebooks": self.pq_codebooks,
                "pq_residual": self.pq_residual}

    def _load_meta(self, m: dict) -> None:
        super()._load_meta(m)
        self.vec_col = m["vec_col"]
        self.n_clusters = m["n_clusters"]
        # IVF-PQ: [m][k][dim/m] floats or None. Part of the artifact's
        # identity (codes are only decodable against their codebooks),
        # so it persists in the meta — bounded driver-material by
        # construction (m*k sub-centroids, the classic PQ codebook).
        self.pq_codebooks = m.get("pq_codebooks")
        # True = codes encode RESIDUALS (vec - centroid), the IVFADC of
        # Jegou et al. §IV.B. On real embedding distributions residual
        # quantization is finer (residual magnitudes shrink with good
        # clustering); on this repo's synthetic copies it measured
        # recall-neutral (COVERAGE's crossover table), so raw encoding
        # stays the default and residual is the documented option.
        self.pq_residual = m.get("pq_residual", False)

    # -- storage ------------------------------------------------------------

    def _centroid_path(self) -> str:
        return os.path.join(self.catalog.root, f"{self.name}_annindex_centroids")

    @classmethod
    def build(cls, catalog, embeddings: DataFrame, id_col: str,
              vec_col: str, name: str, n_clusters: int = 16,
              iters: int = 3, sample_size: int = 65536,
              num_buckets: Optional[int] = None,
              pq_m: Optional[int] = None, pq_k: int = 16,
              pq_sample_size: int = 4096, pq_iters: int = 10,
              pq_residual: bool = False) -> "AnnIndex":
        """One-time (or retrain) pass: bounded-sample k-means + ONE
        full-corpus assignment, vectors persisted bucketed on cluster.
        ``num_buckets`` defaults to ``n_clusters`` — at most one cluster
        per bucket (modulo hash collisions), the tightest pruning.

        ``pq_m`` turns the artifact into an IVF-PQ index (Jégou et al.
        §IV.B): a product quantizer trained on a bounded sample encodes
        every vector as m small codes + its norm, stored as EXTRA
        COLUMNS of the same cluster-bucketed table — parquet column
        pruning then lets the ADC scan read only (cluster, id, codes,
        norm), never the raw vectors, so the probe's bytes-read shrinks
        by ~dim*4/(m+8) on top of the cluster pruning. The exact
        re-rank reads vectors for shortlisted ids only."""
        from hindex_spark.operators.similarity import pq_train

        if num_buckets is None:
            num_buckets = n_clusters
        assigned, cents = ivf_build(
            embeddings, n_clusters=n_clusters, iters=iters,
            id_col=id_col, vec_col=vec_col, sample_size=sample_size,
            keep_vectors=True,
        )
        codebooks = None
        if pq_m is not None:
            if pq_residual:
                codebooks = _train_residual_codebooks(
                    embeddings, cents, id_col, vec_col, pq_m, pq_k,
                    pq_sample_size, pq_iters,
                )
            else:
                codebooks = pq_train(
                    embeddings, m=pq_m, k=pq_k, id_col=id_col,
                    vec_col=vec_col, sample_size=pq_sample_size,
                    iters=pq_iters,
                )
        ix = cls(catalog, name, {
            "id_col": id_col, "vec_col": vec_col, "n_clusters": n_clusters,
            "num_buckets": num_buckets, "cur_gen": 0,
            "pq_codebooks": codebooks,
            "pq_residual": bool(pq_residual and pq_m is not None),
        })
        rows = assigned.select("cluster", id_col, vec_col)
        if codebooks is not None:
            rows = ix._with_pq_cols(rows, cents)
        rows = rows.withColumn("gen", F.lit(0).cast("long"))
        with catalog.write_lock(ix.table_name):
            ix._write_table(rows)
            # a REBUILD starts at gen 0: clear the previous
            # incarnation's tombstones or they'd kill every fresh row
            clear_tombstones(ix._tombstone_path())
            # centroid table: n_clusters x dim doubles — driver-material
            # by construction (ivf_build already iterates it driver-side)
            cents.coalesce(1).write.mode("overwrite").parquet(
                ix._centroid_path()
            )
            ix._save_meta()
        return ix

    @property
    def vectors(self) -> DataFrame:
        """The LIVE (cluster, id, vector, gen) rows: the stored table
        minus generations superseded by ``upsert``/``delete``
        tombstones."""
        return self._live(self._raw())

    @property
    def centroids(self) -> DataFrame:
        """The persisted (cluster, centroid) table — n_clusters rows.
        Deliberately a plain parquet read per call: serving it as a
        collected LocalRelation (cached per store generation, stat-
        fingerprint invalidated) was built and measured in round 13 and
        REGRESSED ~0.5 s/probe-batch — a LocalRelation embeds the
        centroid doubles in the logical plan, and every probe's
        analysis/optimization then pays to copy those literals, which
        costs more than the tiny parquet scan it saved (the same
        LocalRelation re-entry negative result as round 12's probe
        frame, item 24)."""
        return self.catalog.spark.read.parquet(self._centroid_path())

    def _append_batch(self, new_vectors: DataFrame, gen: int) -> None:
        """A batch's index rows: frozen-centroid cluster assignment
        (batch-sized, no corpus access), PQ codes/norm when the
        artifact has a codebook (frozen too — same retrain contract),
        generation stamp."""
        rows = assign_to_centroids(
            new_vectors.select(F.col(self.id_col), F.col(self.vec_col)),
            self.centroids, self.id_col, self.vec_col,
        )
        if self.pq_codebooks is not None:
            rows = self._with_pq_cols(rows, self.centroids)
        self._insert(rows.withColumn("gen", F.lit(gen).cast("long")))

    def _with_pq_cols(self, rows: DataFrame, centroids: DataFrame) -> DataFrame:
        """Add (codes, norm) to (cluster, id, vec) rows. Raw mode codes
        the vector itself; residual mode codes (vec - centroid) — one
        broadcast join on cluster — while ``norm`` is ALWAYS the true
        vector norm (it is the cosine denominator, independent of what
        the codes quantize)."""
        from hindex_spark.operators.similarity import pq_code_cols

        dv = F.col(self.vec_col).cast("array<double>")
        true_norm = F.sqrt(
            F.aggregate(F.transform(dv, lambda x: x * x), F.lit(0.0),
                        lambda a, x: a + x)
        )
        if not self.pq_residual:
            codes, norm = pq_code_cols(self.pq_codebooks, self.vec_col)
            return rows.withColumn("codes", codes).withColumn("norm", norm)
        residual = F.zip_with(dv, F.col("centroid"), lambda a, b: a - b)
        codes, _ = pq_code_cols(self.pq_codebooks, residual)
        return (
            rows.join(F.broadcast(centroids), "cluster")
            .withColumn("codes", codes)
            .withColumn("norm", true_norm)
            .drop("centroid")
            .select("cluster", self.id_col, self.vec_col, "codes", "norm")
        )

    def retrain(self, n_clusters: Optional[int] = None, iters: int = 3,
                sample_size: int = 65536) -> "AnnIndex":
        """Rebuild the partition from the LIVE vectors in place — the
        drift repair the frozen-centroid contract defers to: after many
        appended batches the trained centroids no longer reflect the
        distribution, and recall at a given nprobe decays. One bounded
        retrain + one full-pass reassignment over the CURRENT live rows
        (tombstoned generations drop out here for free), staged-swapped
        under the same artifact name; the PQ codebook is retrained too
        when the index has one. Returns the fresh handle (self is
        refreshed in place as well)."""
        live = self.vectors.select(F.col(self.id_col), F.col(self.vec_col))
        new = AnnIndex.build(
            self.catalog, live, self.id_col, self.vec_col, self.name,
            n_clusters=n_clusters or self.n_clusters, iters=iters,
            sample_size=sample_size,
            pq_m=(len(self.pq_codebooks) if self.pq_codebooks else None),
            pq_k=(len(self.pq_codebooks[0]) if self.pq_codebooks else 16),
            pq_residual=self.pq_residual,
        )
        self.n_clusters = new.n_clusters
        self.num_buckets = new.num_buckets
        self.cur_gen = new.cur_gen
        self.pq_codebooks = new.pq_codebooks
        self.pq_residual = new.pq_residual
        return new

    # -- the query ----------------------------------------------------------

    def _probe_frame(self, queries: DataFrame, nprobe: int,
                     q_id_col: str = "q_id",
                     q_vec_col: str = "q_vec",
                     slim: bool = False) -> DataFrame:
        """Per-query probe selection: one (q_id, cluster, centroid) row
        per probed cluster — EXACTLY ivf_topk's probe window, all JVM
        column ops (queries x centroids broadcast scoring + one
        per-query window). Every serving path derives from this frame,
        so a query's candidate set never depends on which other queries
        share the batch.

        ``slim=True`` is the COLLECT projection for the ADC serving
        path: extra query columns are dropped, the d-dim query vector
        rides only on each query's FIRST probe row (the enrichment
        needs it once per query, not once per probe), and the d-dim
        centroid is kept only when the store carries residual codes
        (the coarse term is the only consumer) — driver transfer drops
        from ~2·d·nprobe doubles per query to ~d (+ d·nprobe residual
        only)."""
        q_scored = queries.crossJoin(F.broadcast(self.centroids)).withColumn(
            "__sim", cosine_expr(F.col(q_vec_col), F.col("centroid"))
        )
        wq = Window.partitionBy(q_id_col).orderBy(
            F.col("__sim").desc(), F.col("cluster")
        )
        ranked = (
            q_scored.withColumn("__rn", F.row_number().over(wq))
            .filter(F.col("__rn") <= nprobe)
        )
        if slim:
            return ranked.select(
                F.col(q_id_col),
                F.when(F.col("__rn") == 1, F.col(q_vec_col)).alias(
                    q_vec_col
                ),
                F.col("cluster"),
                *([F.col("centroid")] if self.pq_residual else []),
            )
        return ranked.drop("__rn", "__sim")

    def probe_clusters(self, queries: DataFrame, nprobe: int,
                       q_id_col: str = "q_id",
                       q_vec_col: str = "q_vec") -> List[int]:
        """The distinct cluster ids the query set probes — bounded by
        ``n_clusters`` however many queries there are, so collecting it
        is always driver-material: the ONE bounded collect a query
        batch pays, feeding the scan's ``cluster IN (...)`` bucket
        pruning. One queries-sized job, no index access. The dedup is a
        global ``collect_set`` aggregate, not ``distinct()``: partial
        aggregation still bounds the exchange to <= n_clusters ids per
        map task, but the final stage is ONE task instead of a full
        shuffle-partition wave (the probe frame is KB-sized, where AQE's
        parallelism-first coalescing keeps the wave wide — measured in
        round 12's config experiment)."""
        row = (
            self._probe_frame(queries, nprobe, q_id_col, q_vec_col)
            .agg(F.collect_set("cluster").alias("cs")).first()
        )
        return sorted(row["cs"] or [])

    def topk(self, queries: DataFrame, k: int, nprobe: int = 2,
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             method: str = "exact", shortlist: int = 100,
             filter_ids: Optional[DataFrame] = None) -> DataFrame:
        """Top-``k`` (q_id, id, cosine, rank) per query from the stored
        index: probed clusters collected (≤ n_clusters ints), the
        vector scan filtered ``cluster IN (...)`` so bucket pruning
        fires, then the probe over the pruned frame.

        ``method="exact"`` scores the probed clusters' raw vectors
        (result-identical to ``ivf_topk`` on the same centroids — same
        assignment expression at build/update, same probe).

        ``method="adc"`` (IVF-PQ, requires ``build(pq_m=...)``) runs
        the asymmetric-distance shortlist over the probed clusters'
        CODES — parquet column pruning keeps the raw vectors unread in
        that scan — then exact-cosine re-ranks only the ``shortlist``
        best per query. With nprobe = n_clusters and shortlist >= the
        corpus, the result exactly equals brute force (the
        oracle-checkable hard-signal configuration).

        ``filter_ids`` is FILTERED search (one id column named like the
        index's id): candidates are PRE-filtered — the semi-join
        restricts the probed clusters' vectors before any scoring, so
        the result is exactly the top-k among the allowed ids (never
        the post-filter failure mode where a selective predicate
        starves k). The filter frame is broadcast; derive it from any
        metadata predicate and keep it id-only."""
        probes = None
        if method == "adc":
            if self.pq_codebooks is None:
                raise ValueError(
                    "AnnIndex.topk(method='adc') needs a PQ codebook "
                    "- build the index with pq_m=..."
                )
            # ONE bounded collect serves both consumers: the per-query
            # probe rows come back n_queries x nprobe small, yield the
            # scan-pruning cluster ids, and re-enter — enriched — as a
            # LocalRelation, so the broadcast side costs ZERO extra
            # jobs (a second window job or a localCheckpoint
            # materialization each measured +0.3-0.9 s/batch at sf1).
            # slim=True projects the collect to what enrichment reads.
            rows = self._probe_frame(
                queries, nprobe, q_id_col, q_vec_col, slim=True
            ).collect()
            clusters = sorted({r["cluster"] for r in rows})
            probes = self._enrich_probes(rows, q_id_col, q_vec_col,
                                         queries)
        else:
            clusters = self.probe_clusters(
                queries, nprobe, q_id_col, q_vec_col
            )
        pruned = self.vectors.filter(F.col("cluster").isin(clusters))
        if filter_ids is not None:
            pruned = pruned.join(
                F.broadcast(filter_ids.select(self.id_col).distinct()),
                self.id_col, "left_semi",
            )
        if method == "adc":
            return self._adc_topk(
                pruned, queries, probes, k, shortlist, q_id_col, q_vec_col
            )
        if method != "exact":
            raise ValueError(f"AnnIndex.topk: unknown method {method!r}")
        return ivf_topk(
            pruned, pruned, self.centroids, queries, k, nprobe=nprobe,
            id_col=self.id_col, vec_col=self.vec_col,
            q_id_col=q_id_col, q_vec_col=q_vec_col,
        )


    def _enrich_probes(self, rows, q_id_col: str, q_vec_col: str,
                       queries: DataFrame) -> DataFrame:
        """The ADC serving frame as a LocalRelation, one row per
        (query, probed cluster): LUT, query norm, coarse term —
        VECTORIZED over the whole collected batch (one einsum), never a
        per-query Python loop.

        - LUT[j][c] = dot(q[j*d_sub:(j+1)*d_sub], codebook[j][c]).
        - For RESIDUAL codes (IVFADC) the approximate dot decomposes as
          dot(q, centroid) + dot(q, residual-hat): the coarse term
          comes from the probe row's own (query, centroid) pair.

        Cost shape (measured at sf1): enrichment is O(batch x m*k*d_sub)
        numpy FLOPs on the bounded collect — microseconds per query up
        past 10^6-query batches. The pure-Catalyst alternative (LUT as a
        nested-lambda transform over a codebook literal) was measured at
        a FLAT ~0.5 s/batch of plan analysis regardless of batch size —
        strictly worse at every size tested — and the original
        per-query Python loops serialized the driver at ~0.1 ms/query.
        The distributed contract is unchanged either way: one bounded
        collect per batch, everything else JVM-side."""
        import numpy as np

        cb = np.asarray(self.pq_codebooks, dtype=np.float64)  # (m,k,d_sub)
        m, _k, d_sub = cb.shape
        # slim collect: the query vector rides only on each query's
        # FIRST probe row — gather it per UNIQUE query, so the einsum
        # runs n_queries (not n_queries x nprobe) rows
        qvec = {
            r[q_id_col]: r[q_vec_col] for r in rows
            if r[q_vec_col] is not None
        }
        qids = list(qvec)
        qpos = {q: i for i, q in enumerate(qids)}
        Q = np.asarray(
            [[float(x) for x in qvec[q]] for q in qids], dtype=np.float64
        )
        lut = np.einsum("pmd,mkd->pmk", Q.reshape(len(qids), m, d_sub), cb)
        q_norm = np.sqrt((Q * Q).sum(axis=1))
        q_norm[q_norm == 0] = 1.0
        qid_ddl = queries.schema[q_id_col].dataType.simpleString()
        out = []
        for r in rows:
            i = qpos[r[q_id_col]]
            qc = (
                float(np.dot(Q[i], np.asarray(r["centroid"],
                                              dtype=np.float64)))
                if self.pq_residual else 0.0
            )
            out.append(
                (r[q_id_col], r["cluster"], lut[i].tolist(),
                 float(q_norm[i]), qc)
            )
        return local_frame(
            self.catalog.spark, out,
            f"{q_id_col} {qid_ddl}, cluster int, lut array<array<double>>, "
            "q_norm double, qc double",
        )

    def _adc_topk(self, pruned: DataFrame, queries: DataFrame,
                  probes: DataFrame, k: int, shortlist: int,
                  q_id_col: str, q_vec_col: str) -> DataFrame:
        """ADC shortlist + exact re-rank, ENTIRELY JVM-side: no
        per-query driver work, so a steady stream of query batches
        never serializes on the driver (the one bounded collect per
        batch is probe_clusters' scan-pruning id list, upstream).

        - LUT[j][c] = dot(q[j*d_sub:(j+1)*d_sub], codebook[j][c]) is a
          transform over the broadcast codebook literal — built inside
          the query frame's projection, m x k entries per query.
        - For RESIDUAL codes (IVFADC) the approximate dot decomposes as
          dot(q, centroid) + dot(q, residual-hat): the coarse term
          comes from the probe frame's own (query, centroid) pair.
        - Each query scores ONLY its own probed clusters: candidates
          join the per-query probe frame on cluster, so results are
          batch-independent — the same semantics as method="exact"
          (previously the ADC path scored the UNION of the batch's
          clusters, making a query's top-k depend on its batchmates).

        Exact-cosine re-rank of the shortlist; with full probe +
        corpus-wide shortlist the result equals brute force exactly."""
        from hindex_spark.operators.similarity import _not_self

        codes = pruned.select(
            F.col(self.id_col), "cluster", "codes", "norm"
        )
        approx = (
            codes.join(F.broadcast(probes), "cluster")
            .filter(_not_self(queries, q_id_col, pruned, self.id_col))
            .withColumn(
                "__adot",
                F.col("qc")
                + F.aggregate(
                    F.zip_with(
                        F.col("codes"), F.col("lut"),
                        lambda c, row: F.element_at(row, c),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )
            .withColumn(
                "__acos",
                F.col("__adot")
                / (
                    F.col("q_norm")
                    * F.when(F.col("norm") > 0, F.col("norm")).otherwise(
                        F.lit(1.0)
                    )
                ),
            )
        )
        ws = Window.partitionBy(q_id_col).orderBy(
            F.col("__acos").desc(), F.col(self.id_col)
        )
        short = (
            approx.withColumn("__srn", F.row_number().over(ws))
            .filter(F.col("__srn") <= shortlist)
            .select(q_id_col, self.id_col)
        )
        exact = (
            short.join(
                pruned.select(F.col(self.id_col), F.col(self.vec_col)),
                self.id_col,
            )
            .join(F.broadcast(queries), q_id_col)
            .select(
                F.col(q_id_col),
                F.col(self.id_col),
                F.round(
                    cosine_expr(F.col(self.vec_col), F.col(q_vec_col)), 6
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy(q_id_col).orderBy(
            F.col("cosine").desc(), F.col(self.id_col)
        )
        return (
            exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id_col, self.id_col, "cosine", "rank")
        )
