"""Persisted dedup state — steady-state incremental dedup.

``incremental_dedup`` (operators/dedup.py) recomputes corpus
fingerprints and minhash signatures from the raw text on every batch:
correct, but at 100 TB the daily batch then pays a full corpus
re-shingle — the dominant cost of the daily-crawl shape. ``DedupState``
is the catalog artifact that removes it: ONE narrow row per corpus doc
(id, content fingerprint, mh0..mh7) persisted as a bucketed table, built
once and maintained by the same job that accepts a batch — the
index-maintenance pattern (index/build.py:59) applied to dedup state.

Per-batch cost with the store (batch ≪ corpus):
  * exact pass — the state's fingerprint column is semi-restricted to
    the BROADCAST batch fingerprints (stream the state scan, no
    shuffle), then the batch anti-joins the (tiny) hit set; this state
    read runs under the batch-sized local checkpoint on the surviving
    batch, so a result's executed plan shows it only as an ExistingRDD
    scan;
  * near-dup pass — corpus band rows come from the bk-bucketed BAND
    SIDE TABLE (``band_table_name``, written from the stored signatures
    at build/append time, never from the text) and join the broadcast
    batch bands; the map-only explode over the narrow state table is
    only the fallback for a store with no band side table (``band_mod``
    is None). Candidate verification re-shingles ONLY docs named in a
    candidate pair (the corpus text is semi-joined down to candidate
    ids before tokenization).
The corpus parquet is scanned exactly once per batch — for candidate
verification — and never through the signature fold. Asserted by
``tests/test_pipeline_ops.py::test_dedup_state_corpus_not_reshingled``.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from hindex_spark.operators import dedup
from hindex_spark.operators.artifact import KeyedStore, clear_tombstones
from hindex_spark.operators.dedup import (
    BY_HASH,
    N_HASHES,
    _band_rows,
    _hashed_units,
    _jaccard_verify,
    _register_aux_cache,
    _resolve_valve,
    _rotate_caches,
    _signature_lane_cols,
    _valve,
    doc_unit_arrays,
    shingle_expr,
)
from hindex_spark.operators.text import distinct_tokens, fingerprint, tokens


def state_rows(
    docs: DataFrame, id_col: str, text_col: str, ngram: int = 3,
    hash_fn: str = "md5", n_hashes: int = N_HASHES,
) -> DataFrame:
    """(id, __fp, mh0..mh{n-1}) in ONE map pass over the text:
    fingerprint and the n-way minhash fold share a single
    scan/projection — no shuffle, no second read of the text."""
    if ngram <= 1:
        base = docs.select(
            F.col(id_col),
            fingerprint(F.col(text_col)).alias("__fp"),
            distinct_tokens(F.col(text_col)).alias("__units"),
        )
    else:
        base = docs.select(
            F.col(id_col),
            fingerprint(F.col(text_col)).alias("__fp"),
            tokens(F.col(text_col)).alias("__toks"),
        ).select(
            F.col(id_col), "__fp",
            shingle_expr(F.col("__toks"), ngram).alias("__units"),
        )
    # hashed array staged as a real column so the n per-lane minima in
    # the next projection never re-hash a unit (see _signature_lane_cols)
    hs = base.select(
        F.col(id_col), "__fp",
        _hashed_units(F.col("__units"), hash_fn).alias("__hs"),
    )
    return hs.select(
        F.col(id_col), "__fp",
        *_signature_lane_cols(F.col("__hs"), n_hashes),
    )


class DedupState(KeyedStore):
    """Handle to a persisted dedup-state table inside a ``Catalog``.

    Lifecycle::

        st = DedupState.build(cat, corpus, "doc_id", "text", "docs")
        survivors = st.dedup_batch(batch, corpus, threshold=0.9)
        st.update(survivors)          # accepted docs join the state
        ...
        st = DedupState.open(cat, "docs")   # next session / next day

    ``upsert`` is the shape a re-crawled/re-processed document needs:
    its OLD signature must stop matching candidates.
    """

    kind = "dedupstate"

    @property
    def bucket_col(self) -> str:
        return self.id_col

    def _meta(self) -> dict:
        return {**super()._meta(), "text_col": self.text_col,
                "ngram": self.ngram, "hash_fn": self.hash_fn,
                "n_hashes": self.n_hashes, "band_size": self.band_size,
                "band_mod": self.band_mod}

    def _load_meta(self, m: dict) -> None:
        super()._load_meta(m)
        self.text_col = m["text_col"]
        self.ngram = m["ngram"]
        self.hash_fn = m["hash_fn"]
        # The LSH family is part of the ARTIFACT's identity: stored
        # signatures are only band-compatible with themselves, so both
        # knobs persist in the meta and every query derives from them.
        self.n_hashes = m.get("n_hashes", N_HASHES)
        self.band_size = m.get("band_size", 2)
        # ``band_mod`` present <=> the store carries the BAND SIDE TABLE
        # (bk, band, bucket, id, gen), bucketed on bk =
        # pmod(xxhash64(band, bucket), band_mod): the inverted layout
        # that lets a batch's near-dup pass read only the state buckets
        # it touches (bucket pruning on a bk IN (...) literal list —
        # bounded by band_mod values however large the batch) instead of
        # re-deriving every band row from a full state scan per batch
        # (guide §6: at 100 TB the full state read per daily batch is
        # the dominant store-side cost). None = a pre-band store; every
        # consumer falls back to the explode-from-state path.
        self.band_mod = m.get("band_mod")

    @property
    def band_table_name(self) -> str:
        return f"{self.name}_dedupstate_bands_bucketed"

    def _band_side_rows(self, sig_rows: DataFrame) -> DataFrame:
        """(bk, band, bucket, id, gen) band-side rows derived from a
        gen-carrying state-rows frame — the SAME banding explode
        ``dedup_batch`` would run, materialized once at write time with
        the pruning key attached. Column order is the side table's
        positional INSERT contract."""
        b = _band_rows(sig_rows, self.id_col, self.band_size,
                       extra_cols=("gen",))
        return b.select(
            F.pmod(F.xxhash64("band", "bucket"), F.lit(self.band_mod))
            .cast("int").alias("bk"),
            F.col("band"), F.col("bucket"), F.col(self.id_col),
            F.col("gen"),
        )

    # -- storage ------------------------------------------------------------

    @classmethod
    def build(cls, catalog, corpus: DataFrame, id_col: str, text_col: str,
              name: str, ngram: int = 3, hash_fn: str = "md5",
              num_buckets: int = 32, n_hashes: int = N_HASHES,
              band_size: int = 2) -> "DedupState":
        """One-time (or rebuild) pass: shingle the corpus ONCE, persist
        the narrow state bucketed on id. ~tens of bytes/doc — the 100 TB
        corpus's state is a few hundred GB, rewritten never, appended to
        per accepted batch."""
        st = cls(catalog, name, {
            "id_col": id_col, "text_col": text_col, "ngram": ngram,
            "hash_fn": hash_fn, "n_hashes": n_hashes,
            "band_size": band_size, "num_buckets": num_buckets,
            "cur_gen": 0, "band_mod": num_buckets,
        })
        st._write_table(state_rows(
            corpus, id_col, text_col, ngram, hash_fn, n_hashes
        ).withColumn("gen", F.lit(0).cast("long")))
        # the band side table derives from the JUST-SAVED state (one
        # narrow state-sized pass — never a second corpus re-shingle);
        # build cost is one-time setup, every batch then reads a
        # bucket-pruned slice instead of exploding the full state
        st._rebuild_sides(num_buckets)
        # a REBUILD starts at gen 0: clear the previous incarnation's
        # tombstones or they'd kill every fresh row
        clear_tombstones(st._tombstone_path())
        st._save_meta()
        return st

    @property
    def df(self) -> DataFrame:
        """The LIVE persisted (id, __fp, mh0..mh7, gen) rows: the
        stored table minus generations superseded by
        ``upsert``/``delete`` tombstones."""
        return self._live(self._raw())

    @property
    def bands(self) -> DataFrame:
        """LIVE (bk, band, bucket, id, gen) rows of the band side table.
        The STATE's tombstone path applies verbatim: band rows carry
        exactly their state row's (id, gen), so one tombstone file cuts
        both tables — ``delete``/``upsert`` never write the side table's
        history twice."""
        return self._live(self._raw(self.band_table_name, "bk"))

    def _append_batch(self, accepted: DataFrame, gen: int) -> None:
        """Append a batch's state rows and (when the store carries the
        band side table) its band rows. The batch frame is persisted so
        the signature fold runs ONCE for both appends, which run as
        concurrent jobs. A crash between the two appends can leave the
        pair torn; ``compact()`` rebuilds the band table FROM the state,
        so the next maintenance pass converges them."""
        rows = state_rows(
            accepted, self.id_col, self.text_col, self.ngram, self.hash_fn,
            self.n_hashes,
        ).withColumn("gen", F.lit(gen).cast("long"))
        if self.band_mod is None:
            self._insert(rows)
            return
        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            self._insert_pair(
                (rows,),
                (self._band_side_rows(rows), self.band_table_name, "bk"),
            )
        finally:
            rows.unpersist()

    def _rebuild_sides(self, num_buckets: int) -> None:
        """Rebuild the band side table FROM the just-written state
        (never from its own history): purges its tombstoned generations
        AND heals any torn state/band append pair a crash left."""
        if self.band_mod is not None:
            self._write_table(
                self._band_side_rows(self.catalog.spark.table(self.sql_name)),
                self.band_table_name, "bk", num_buckets,
            )

    # -- the per-batch query ------------------------------------------------

    def dedup_batch(
        self,
        new: DataFrame,
        corpus: DataFrame,
        threshold: float = 0.9,
        max_bucket: Union[int, None, str] = BY_HASH,
        dropped: Optional[Observation] = None,
    ) -> DataFrame:
        """Surviving rows of ``new`` (original schema) after exact +
        near-dup checks against the persisted state. ``corpus`` supplies
        text ONLY for candidate verification (semi-joined to candidate
        ids before any tokenization); its signatures/fingerprints come
        from the store. Result-identical to
        ``incremental_dedup(new, corpus, ...)`` at the same settings
        (same signature family, same banding, same exact-Jaccard
        verification) — asserted in tests.

        ``max_bucket`` defaults to ``BY_HASH`` resolved against the
        STORE's hash family (minhash_join's production-entry-point
        semantics): md5 keeps the constant ``dedup.DEFAULT_MAX_BUCKET``
        cap, xxhash64 derives the cap from the store's own bucket-size
        distribution (``"auto"``). The valve measures the corpus side
        only (the batch side is bounded by the batch); ``dropped``
        reports ``dropped_buckets`` / ``dropped_rows``, and without it
        ``last_valve_drops()`` does."""
        id_col, text_col = self.id_col, self.text_col
        max_bucket = _resolve_valve(
            max_bucket, self.hash_fn, md5_cap=dedup.DEFAULT_MAX_BUCKET
        )
        state = self.df

        # exact pass: exists_batch shape — semi-restrict the state's fp
        # column by the broadcast batch fps (no state-side shuffle),
        # then anti-join the batch against the tiny hit set.
        nf = new.withColumn("__fp", fingerprint(F.col(text_col)))
        batch_fps = nf.select("__fp").distinct()
        fp_hits = (
            state.join(F.broadcast(batch_fps), "__fp", "left_semi")
            .select("__fp").distinct()
        )
        # BATCH-bounded lineage truncation (Table.AUTO_CHECKPOINT's
        # analog for store verbs): ``fresh`` is referenced three times
        # downstream (signatures, verification arrays, survivor join);
        # each reference replays the fingerprint anti-join + batch scan
        # and the replayed subtrees triple the plan (27 -> 10 exchanges
        # in the upsert gate's plan with the truncation). Safe BECAUSE
        # the frame is batch-sized — the corpus-sized state stays lazy.
        # Measured against plain and persist() variants at sf0.1:
        # warm-run times are noise-equivalent (~1.5-1.9 s all three),
        # so the plan-size win is free.
        fresh = (
            nf.join(F.broadcast(fp_hits), "__fp", "left_anti")
            .drop("__fp")
            .localCheckpoint(eager=False)
        )

        # near-dup pass: corpus bands from the STORE (map-only explode,
        # no text), batch bands broadcast into the equi-join.
        batch_sigs = state_rows(
            fresh, id_col, text_col, self.ngram, self.hash_fn, self.n_hashes
        )
        bb = _band_rows(
            batch_sigs.drop("__fp"), id_col, self.band_size
        ).select(F.col(id_col).alias("id_a"), "band", "bucket")
        if self.band_mod is not None:
            # the banding explode was materialized at write time into
            # the bk-bucketed side table — read it (pruned below when
            # the batch's touched bk set is collectable) instead of
            # re-deriving every band row from a full state scan
            cb = self.bands.select(
                F.col(id_col).alias("id_b"), "band", "bucket", "bk"
            )
        else:
            cb = _band_rows(
                state.drop("__fp"), id_col, self.band_size
            ).select(F.col(id_col).alias("id_b"), "band", "bucket")
        if max_bucket is not None:
            # ``cb`` feeds BOTH the size pass and the candidate join —
            # persist the narrow (id, band, bucket) frame so the state
            # scan + band explode runs once, not twice (guide §2.4; the
            # cache is adopted by this call's _rotate_caches).
            if isinstance(max_bucket, int) and dropped is None:
                # TOUCHED-BUCKET narrowing (constant cap, no caller
                # accounting): only buckets the BATCH bands touch can
                # produce candidates, and a broadcast semi-join on the
                # batch-bounded (band, bucket) keys filters the state
                # bands map-side BEFORE the persist + size pass — the
                # per-bucket counts of surviving buckets are unchanged
                # (the semi-join keeps every state row of a touched
                # bucket), so exactly the same buckets are dropped and
                # the result is identical. Skipped under ``"auto"``
                # (the cap derives from the FULL store's bucket-size
                # distribution) and under a ``dropped`` Observation
                # (which reports store-wide over-cap keys).
                if "bk" in cb.columns:
                    # BUCKET-PRUNED state read: the batch's touched bk
                    # set is bounded by band_mod values however large
                    # the batch is, so collecting it is always
                    # driver-material, and the IN literal list makes
                    # the bk-bucketed scan read only the touched
                    # buckets' files (the AnnIndex cluster-pruning
                    # shape). ``bb`` is persisted so the batch
                    # signature fold runs once for the collect, the
                    # semi-join broadcast and the candidate join —
                    # previously it ran once per broadcast build.
                    bb = bb.persist(StorageLevel.MEMORY_AND_DISK)
                    _register_aux_cache(bb)
                    touched = sorted({
                        r["bk"]
                        for r in bb.select(
                            F.pmod(
                                F.xxhash64("band", "bucket"),
                                F.lit(self.band_mod),
                            ).cast("int").alias("bk")
                        ).distinct().collect()
                    })
                    cb = cb.filter(F.col("bk").isin(touched))
                cb = cb.join(
                    F.broadcast(bb.select("band", "bucket").distinct()),
                    ["band", "bucket"], "left_semi",
                )
            cb = cb.drop("bk").persist(StorageLevel.MEMORY_AND_DISK)
            _register_aux_cache(cb)
            sizes = cb.groupBy("band", "bucket").agg(F.count("*").alias("__n"))
            _, big = _valve(sizes, F.col("__n"), max_bucket, dropped, "dropped_rows")
            cb = cb.join(
                F.broadcast(big.select("band", "bucket")),
                ["band", "bucket"], "left_anti",
            )
        cands = (
            cb.join(F.broadcast(bb), ["band", "bucket"])
            .select("id_a", "id_b").distinct().persist()
        )

        # verification: exact Jaccard on unit arrays, re-shingling ONLY
        # candidate docs — the single corpus-text scan of the batch.
        ua = doc_unit_arrays(
            fresh.join(
                cands.select(F.col("id_a").alias(id_col)).distinct(),
                id_col, "left_semi",
            ),
            id_col, text_col, self.ngram,
        )
        ub = doc_unit_arrays(
            corpus.join(
                F.broadcast(cands.select(F.col("id_b").alias(id_col)).distinct()),
                id_col, "left_semi",
            ),
            id_col, text_col, self.ngram,
        )
        near = _jaccard_verify(cands, ua, ub, id_col, threshold).select(
            F.col("id_a").alias(id_col)
        ).distinct()
        _rotate_caches(cands)
        return fresh.join(near, id_col, "left_anti")
