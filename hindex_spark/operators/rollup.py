"""Incremental time-bucket rollups — the "hypertable continuous
aggregate" shape: a persisted, append-maintained materialization of
per-(time bucket, key) aggregates over an event stream, queryable
without rescanning raw events.

Design (the artifact-store pattern, operators/artifact.py):

- The store holds MERGEABLE PARTIAL aggregates: (bucket_us, key, cnt,
  vsum, vmin, vmax). ``update(batch)`` aggregates ONLY the batch to the
  grain and appends — never rewrites history, so a daily batch costs a
  batch-sized aggregation however large the history is, and late events
  are just another partial row in their (old) bucket.
- ``read()`` returns the fully merged rollup by re-aggregating the
  partials: count/sum/min/max are mergeable, so merging partials is
  exact. The store is bucketed on ``bucket_us``, and hash-partitioning
  on bucket_us satisfies the (bucket_us, key) clustering the merge
  groupBy needs — the store-side merge runs WITHOUT an Exchange.
- ``compact()`` folds accumulated partials back to one row per
  (bucket, key) and one file per bucket (the staged-swap rewrite and
  raw-parquet source of every artifact compaction —
  operators/artifact.py).
- ``ndv_col``/``pctl_col``/``topk_col`` add MERGEABLE sketch aggregates
  (DataSketches HLL distinct counts; KLL quantiles; frequent-items
  heavy hitters): the classic rollup metrics plain partials cannot
  carry — an id seen in two batches double-counts, a per-batch p95
  says nothing about the union's, and an item frequent overall can be
  infrequent in every batch. All are exact under capacity (sparse
  mode / k / maxItemsTracked), degrade gracefully beyond, and serve
  corrections (replace_batch) and the grain lattice (daily ndv/p95/
  top-k from hourly partials). Quantiles are DISCRETE (the element at
  rank ceil(p*n) in exact mode), so no float interpolation diverges
  between engines.
- ``update()`` returns a batch GENERATION; ``replace_batch``/
  ``delete_batch`` correct or retract a batch via the artifact
  tombstone machinery (operators/artifact.py) without rebuilding —
  ``compact()`` folds live partials into a fresh generation and seals
  older ones.

Determinism: the value sum is ``round(value, 6)`` cast DECIMAL(18,6)
BEFORE aggregation (the repo's fixed-point convention) — a plain
``sum(double)`` is ordering-dependent and differs between engines/runs;
the decimal sum is exact integer arithmetic. min/max/count of doubles
are order-independent and stay native.

Timestamps go through :mod:`hindex_spark.timeutil` (the events table's
physical ts type varies across data generations); buckets are epoch
micros floored to the grain — pure integer arithmetic mirrored in the
oracle as ``(epoch_us(ts) // grain) * grain``.
"""

from __future__ import annotations

import os
from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hindex_spark.operators.artifact import GenerationStore, clear_tombstones
from hindex_spark.timeutil import ts_micros

#: fixed-point scale for the value sum (importance.py convention)
_SCALE = 6
_DEC = f"decimal(18,{_SCALE})"

HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US


def rollup_partials(
    events: DataFrame,
    ts_col: str,
    key_cols: List[str],
    value_col: str,
    grain_us: int,
    ndv_col: Optional[str] = None,
    ndv_lgk: int = 12,
    pctl_col: Optional[str] = None,
    pctl_k: int = 200,
    topk_col: Optional[str] = None,
    topk_max: int = 10000,
) -> DataFrame:
    """One batch's partial aggregates: (bucket_us, *keys, cnt, vsum,
    vmin, vmax[, nds]). One narrow projection + one grain-keyed
    aggregation — map-side combine collapses each partition to
    <= (buckets x keys) rows before the exchange.

    ``ndv_col`` adds a MERGEABLE distinct-count column: an Apache
    DataSketches HLL sketch per group (``nds``, binary) — the
    continuous-aggregate answer to COUNT(DISTINCT): plain distinct
    counts are NOT mergeable across batches (re-seen ids double-count),
    sketches union exactly. The sketch is EXACT while in sparse mode
    (well past typical per-(bucket, key) cardinalities) and degrades
    gracefully to ~±1% estimation beyond — the standard 100 TB trade;
    ``ndv_lgk`` sizes that boundary."""
    # exact integer floor-to-grain (micros are positive): double
    # division could drift on large epochs, long mod cannot
    us = ts_micros(events, ts_col)
    bucket = (us - (us % F.lit(grain_us))).alias("bucket_us")
    v6 = F.round(F.col(value_col), _SCALE).cast(_DEC)
    cols = [bucket, *[F.col(k) for k in key_cols], v6.alias("__v")]
    aggs = [
        F.count("*").alias("cnt"),
        F.sum("__v").cast(_DEC).alias("vsum"),
        F.min("__v").cast(_DEC).alias("vmin"),
        F.max("__v").cast(_DEC).alias("vmax"),
    ]
    if ndv_col is not None:
        cols.append(F.col(ndv_col).alias("__nd"))
        aggs.append(F.hll_sketch_agg("__nd", F.lit(ndv_lgk)).alias("nds"))
    if pctl_col is not None:
        # same 6dp fixed-point grid as vsum/vmin/vmax, so the sketch's
        # retained ELEMENTS are bit-identical to the oracle's values
        cols.append(
            F.round(F.col(pctl_col), _SCALE).cast(_DEC).cast("double")
            .alias("__pv")
        )
        aggs.append(
            F.kll_sketch_agg_double("__pv", F.lit(pctl_k)).alias("klls")
        )
    if topk_col is not None:
        # heavy hitters: the third mergeable sketch (DataSketches
        # frequent-items via approx_top_k_*) — per-batch top items are
        # NOT mergeable as plain counts (an item frequent overall can
        # be infrequent in every batch); sketch states combine exactly
        # while per-group cardinality stays under topk_max and degrade
        # to guaranteed-error estimates beyond. Items are CAST to
        # string so every batch accumulates the same item type (the
        # combine refuses mixed itemDataTypeDDL).
        cols.append(F.col(topk_col).cast("string").alias("__ti"))
        aggs.append(
            F.expr(
                f"approx_top_k_accumulate(__ti, {int(topk_max)})"
            ).alias("tks")
        )
    return (
        events.filter(F.col(ts_col).isNotNull())
        .select(*cols)
        .groupBy("bucket_us", *key_cols)
        .agg(*aggs)
    )


def merge_partials(partials: DataFrame, key_cols: List[str]) -> DataFrame:
    """Exact merge of partial rows: count/sum add, min/max fold, NDV
    sketches union (kept as sketches — still mergeable downstream;
    ``RollupStore.read`` estimates at the edge)."""
    aggs = [
        F.sum("cnt").alias("cnt"),
        F.sum("vsum").cast(_DEC).alias("vsum"),
        F.min("vmin").cast(_DEC).alias("vmin"),
        F.max("vmax").cast(_DEC).alias("vmax"),
    ]
    if "nds" in partials.columns:
        aggs.append(F.hll_union_agg("nds").alias("nds"))
    if "klls" in partials.columns:
        aggs.append(F.kll_merge_agg_double("klls").alias("klls"))
    if "tks" in partials.columns:
        # no maxItemsTracked arg: inherit from the (store-consistent)
        # input sketches, erroring loudly on a mixed-family merge
        aggs.append(F.expr("approx_top_k_combine(tks)").alias("tks"))
    return partials.groupBy("bucket_us", *key_cols).agg(*aggs)


class RollupStore(GenerationStore):
    """Persisted continuous aggregate inside a ``Catalog``.

    Lifecycle::

        r = RollupStore.build(cat, events, "ts", ["event_type"],
                              "value", HOUR_US, "events_hourly")
        r.update(todays_events)      # batch-sized aggregation + append
        hourly = r.read()            # merged rollup, store-side
                                     # exchange-free
        r.compact()                  # fold partials, 1 file/bucket

    Late events are fine: they land as another partial row in their
    (old) bucket and merge at read time.
    """

    kind = "rollup"
    bucket_col = "bucket_us"

    def _meta(self) -> dict:
        return {**super()._meta(), "ts_col": self.ts_col,
                "key_cols": self.key_cols, "value_col": self.value_col,
                "grain_us": self.grain_us,
                "gen_hist": self.gen_hist,
                "hist_disabled": self.hist_disabled,
                "ndv_col": self.ndv_col, "ndv_lgk": self.ndv_lgk,
                "pctl_col": self.pctl_col, "pctl_k": self.pctl_k,
                "topk_col": self.topk_col, "topk_max": self.topk_max}

    def _load_meta(self, m: dict) -> None:
        super()._load_meta(m)
        self.ts_col = m["ts_col"]
        self.key_cols = list(m["key_cols"])
        self.value_col = m["value_col"]
        self.grain_us = m["grain_us"]
        #: mergeable sketch columns (HLL distinct counts, KLL
        #: quantiles, frequent-items heavy hitters) — part of the
        #: artifact identity, like the LSH family on DedupState
        self.ndv_col = m.get("ndv_col")
        self.ndv_lgk = m.get("ndv_lgk", 12)
        self.pctl_col = m.get("pctl_col")
        self.pctl_k = m.get("pctl_k", 200)
        self.topk_col = m.get("topk_col")
        self.topk_max = m.get("topk_max", 10000)
        #: write-maintained bucket histogram: str(gen) ->
        #: {str(bucket_us): live partial rows}. Maintained under the
        #: writer lease by every mutating verb, so
        #: ``read(spread_keys="auto")`` decides the hot-bucket escape
        #: from meta with ZERO extra jobs — the gauge aggregation
        #: (``_hot_bucket``) remains only as the fallback for stores
        #: written before the histogram existed (None = unknown).
        #: Size is (live generations x buckets touched per batch);
        #: compact() folds it to one generation, and MAX_HIST_ENTRIES
        #: caps total meta growth (over the cap the histogram switches
        #: off and auto-reads use the gauge — see ``_hist_commit``).
        #: ADVISORY only: the spread decision is result-identical
        #: either way, so a stale histogram can never corrupt a read.
        self.gen_hist = m.get("gen_hist")
        #: True once the histogram exceeded MAX_HIST_ENTRIES: verbs
        #: stop maintaining it (no rebuild flip-flop) and auto-reads
        #: fall back to the gauge; build()/compact() re-evaluate, so a
        #: fold that fits the cap re-enables maintenance.
        self.hist_disabled = m.get("hist_disabled", False)

    @classmethod
    def build(cls, catalog, events: DataFrame, ts_col: str,
              key_cols: List[str], value_col: str, grain_us: int,
              name: str, num_buckets: int = 32,
              ndv_col: Optional[str] = None,
              ndv_lgk: int = 12,
              pctl_col: Optional[str] = None,
              pctl_k: int = 200,
              topk_col: Optional[str] = None,
              topk_max: int = 10000) -> "RollupStore":
        r = cls(catalog, name, {
            "ts_col": ts_col, "key_cols": list(key_cols),
            "value_col": value_col, "grain_us": grain_us,
            "num_buckets": num_buckets, "ndv_col": ndv_col,
            "ndv_lgk": ndv_lgk, "pctl_col": pctl_col, "pctl_k": pctl_k,
            "topk_col": topk_col, "topk_max": topk_max,
            "history": [{"v": 0, "op": "build", "add": [0], "drop": [],
                         "reset": True}],
        })
        r._write_table(r._partials_of(events, 0))
        # a REBUILD starts at gen 0: clear the previous incarnation's
        # tombstones or they'd kill matching fresh generations
        clear_tombstones(r._tombstone_path())
        # seed the bucket histogram from the saved (aggregate-sized)
        # table — one bounded job at build time buys every later
        # auto-read its spread decision for free
        r.gen_hist = {"0": r._hist_of(catalog.read_raw(r.table_name))}
        r._hist_commit(reevaluate=True)
        r._save_meta()
        return r

    @property
    def partials(self) -> DataFrame:
        """The partials table as stored (self-repairing registration,
        refreshed at every read entry)."""
        return self._raw()

    def _stored_has_gen(self) -> bool:
        """Whether the persisted schema carries the gen column (stores
        written before generations existed do not)."""
        sch = self.catalog._sidecar_schema(
            os.path.join(self.catalog.root, self.table_name, "data")
        )
        if sch is not None:
            return "gen" in sch.names
        return "gen" in self.catalog.read_raw(self.table_name).columns

    def _migrate_gen_locked(self) -> None:
        """One-time migration of a pre-generation store: rewrite with
        gen=0 (rollup stores are aggregate-sized, so the rewrite is
        cheap). Caller holds the writer lock."""
        if self._stored_has_gen():
            return
        self._write_table(self.catalog.read_raw(self.table_name).withColumn(
            "gen", F.lit(0).cast("long")
        ))

    def _partials_of(self, batch: DataFrame, gen: int) -> DataFrame:
        return rollup_partials(
            batch, self.ts_col, self.key_cols, self.value_col,
            self.grain_us, ndv_col=self.ndv_col, ndv_lgk=self.ndv_lgk,
            pctl_col=self.pctl_col, pctl_k=self.pctl_k,
            topk_col=self.topk_col, topk_max=self.topk_max,
        ).withColumn("gen", F.lit(gen).cast("long"))

    def _append_locked(self, batch: DataFrame, gen: int) -> None:
        self._insert(self._partials_of(batch, gen))

    def _gens_changed(self, add: int = None, drop: int = None) -> None:
        """Maintain the bucket histogram: an appended generation gets
        its own counts (one bounded aggregation), a cut one loses
        them; a pre-histogram store is upgraded on its first append."""
        if add is None:
            if self.gen_hist is not None:
                self.gen_hist.pop(str(drop), None)
            return
        if self.hist_disabled:
            return
        if self.gen_hist is None:  # pre-histogram store: upgrade
            self._hist_rebuild_locked()
        else:
            self.gen_hist.pop(str(drop), None)
            self.gen_hist[str(add)] = self._hist_of_gen_locked(add)
        self._hist_commit()

    def read_asof(
        self,
        version: int,
        start_us: Optional[int] = None,
        end_us: Optional[int] = None,
        spread_keys: bool = False,
        pctls=None,
        topk=None,
    ) -> DataFrame:
        """TIME TRAVEL: the merged rollup exactly as ``read()`` would
        have returned it at store version ``version`` (build = 0, every
        update/replace_batch/delete_batch/compact/expire bumps —
        ``versions()`` lists them). Because corrections are tombstone
        appends and never rewrites, every historical row is still
        physically present until a compact()/expire() rewrite — so an
        as-of read is just a generation-set scan filter (replayed from
        meta, zero extra jobs), and versions before the last rewrite
        are refused (the Delta-Lake VACUUM rule: the rewrite purged the
        rows those versions need).

        ``read_asof(cur_version)`` is row-for-row ``read()``."""
        p = self._partials_asof(version, "rollup store")
        if start_us is not None:
            p = p.filter(F.col("bucket_us") >= start_us)
        if end_us is not None:
            p = p.filter(F.col("bucket_us") < end_us)
        p = self._maybe_spread(p, spread_keys, start_us, end_us)
        return self._finish(merge_partials(p, self.key_cols), pctls, topk)

    #: "auto" spreads when the largest time bucket holds more than this
    #: multiple of the fair per-bucket share — below it, the
    #: exchange-free merge wins (the extra exchange costs more than the
    #: skew); above it, one task serializes the merge.
    AUTO_SPREAD_MULT = 4.0

    #: cap on total meta-histogram entries (sum over generations of
    #: buckets touched). ~100k entries is a few MB of JSON — beyond it
    #: (a never-compacted fine-grain store: minutely buckets x years)
    #: the histogram switches OFF rather than growing the meta file
    #: unboundedly: verbs stop maintaining it and auto-reads use the
    #: gauge, until a build()/compact()/expire() rewrite fits the cap
    #: again and re-enables it.
    MAX_HIST_ENTRIES = 100_000

    def _hist_commit(self, reevaluate: bool = False) -> None:
        """Apply the size valve after a verb's histogram maintenance.
        ``reevaluate=True`` (build/compact/expire — full rewrites)
        lifts a previous switch-off when the rebuilt histogram fits."""
        if self.gen_hist is None:
            return
        n = sum(len(h) for h in self.gen_hist.values())
        if n > self.MAX_HIST_ENTRIES:
            self.gen_hist = None
            self.hist_disabled = True
        elif reevaluate:
            self.hist_disabled = False

    def _hist_of(self, df: DataFrame) -> dict:
        """Per-bucket_us row counts of ``df`` as a JSON-keyed dict —
        one bounded aggregation collected driver-side (the result is
        at most buckets-touched rows)."""
        rows = (
            df.groupBy("bucket_us").agg(F.count("*").alias("__n")).collect()
        )
        return {str(r["bucket_us"]): int(r["__n"]) for r in rows}

    def _hist_of_gen_locked(self, gen: int) -> dict:
        """Histogram of exactly one generation's rows (raw parquet
        read with the gen filter pushed to the scan). Caller holds the
        writer lock and has just appended that generation."""
        return self._hist_of(
            self.catalog.read_raw(self.table_name).filter(
                F.col("gen") == F.lit(gen)
            )
        )

    def _hist_rebuild_locked(self) -> None:
        """One-time upgrade of a pre-histogram store: derive the full
        per-generation histogram from the LIVE rows (tombstoned
        generations excluded). One bounded aggregation; from then on
        every verb maintains the histogram incrementally."""
        raw = self.catalog.read_raw(self.table_name)
        if "gen" not in raw.columns:
            raw = raw.withColumn("gen", F.lit(0).cast("long"))
        rows = (
            self._live(raw, "gen").groupBy("gen", "bucket_us")
            .agg(F.count("*").alias("__n"))
            .collect()
        )
        hist: dict = {}
        for r in rows:
            hist.setdefault(str(r["gen"]), {})[str(r["bucket_us"])] = int(
                r["__n"]
            )
        self.gen_hist = hist

    def _hot_bucket_from_hist(self, start_us=None, end_us=None,
                              grain_us=None):
        """The hot-bucket decision from the write-maintained meta
        histogram — pure driver-side dict arithmetic, ZERO jobs. The
        time restriction filters keys; a coarser read grain re-groups
        them (summing counts over the finer buckets is exactly the
        coarsened frame's per-bucket row count). Returns None when the
        histogram is unavailable (pre-histogram store, or the meta
        could not be re-read) — callers then fall back to the live
        gauge."""
        try:
            # opportunistic cross-process freshness: another writer may
            # have appended since this handle loaded its meta
            self._reload_meta()
        except Exception:  # noqa: BLE001 — advisory path, gauge fallback
            return None
        if not self.gen_hist:
            return None
        acc: dict = {}
        for h in self.gen_hist.values():
            for b, n in h.items():
                b = int(b)
                if start_us is not None and b < start_us:
                    continue
                if end_us is not None and b >= end_us:
                    continue
                if grain_us is not None:
                    b -= b % grain_us
                acc[b] = acc.get(b, 0) + n
        if not acc:
            return False
        fair = sum(acc.values()) / max(1, self.num_buckets)
        return max(acc.values()) > self.AUTO_SPREAD_MULT * fair

    def _hot_bucket(self, p: DataFrame) -> bool:
        """Whether the (time-filtered) partials have a hot bucket_us:
        max rows-per-bucket > AUTO_SPREAD_MULT x the fair PER-TASK
        share. The clustered merge runs one task per hash bucket, so
        the fair share is total/num_buckets — NOT total/distinct
        buckets, which would never flag the worst case (everything in
        ONE time bucket: max == total == that 'fair'). One bounded
        extra aggregation whose driver-side result is one row — the LSH
        auto-valve pattern (dedup.py max_bucket=\"auto\");
        bucket_us-only projection, so the gauge scan is column-pruned.
        Since the meta histogram exists this is the FALLBACK path for
        pre-histogram stores only — see ``_hot_bucket_from_hist``."""
        row = (
            p.groupBy("bucket_us").agg(F.count("*").alias("__n"))
            .agg(F.max("__n").alias("mx"), F.sum("__n").alias("tot"))
            .collect()[0]
        )
        if not row["tot"]:
            return False
        fair = row["tot"] / max(1, self.num_buckets)
        return row["mx"] > self.AUTO_SPREAD_MULT * fair

    def _maybe_spread(self, p: DataFrame, spread_keys, start_us=None,
                      end_us=None, grain_us=None) -> DataFrame:
        """Resolve the hot-bucket escape: True/False pass through,
        \"auto\" derives it from the store's own bucket-size
        distribution — the write-maintained meta histogram when the
        store carries one (zero extra jobs), the live gauge
        aggregation otherwise."""
        if spread_keys == "auto":
            spread_keys = self._hot_bucket_from_hist(
                start_us, end_us, grain_us
            )
            if spread_keys is None:
                spread_keys = self._hot_bucket(p)
        if spread_keys:
            return p.repartition("bucket_us", *self.key_cols)
        return p

    @property
    def live_partials(self) -> DataFrame:
        """Partials minus tombstoned (replaced/retracted) generations.
        The cut set is batches-corrected-since-last-compact — broadcast
        material by construction; the broadcast join preserves the
        scan's bucket partitioning, so the downstream merge stays
        exchange-free."""
        return self._live(self.partials, "gen")

    @staticmethod
    def _finish(merged: DataFrame, pctls=None, topk=None) -> DataFrame:
        """Estimate sketches at the serving edge (sketches stay
        sketches inside the store so they remain mergeable): NDV as
        ``ndv``; requested quantiles as ``p50``-style columns — the
        KLL discrete quantile returns an ELEMENT of the input (the
        value at rank ceil(p*n) in exact mode), so there is no float
        interpolation to diverge between engines."""
        if "nds" in merged.columns:
            merged = merged.withColumn(
                "ndv", F.hll_sketch_estimate("nds").cast("bigint")
            ).drop("nds")
        if "klls" in merged.columns:
            for q in (pctls or ()):
                name = f"p{int(round(q * 100))}"
                merged = merged.withColumn(
                    name,
                    F.kll_sketch_get_quantile_double("klls", F.lit(float(q))),
                )
            merged = merged.drop("klls")
        if "tks" in merged.columns:
            # heavy hitters estimated at the serving edge:
            # array<struct<item, count>> — EXACT counts while per-group
            # cardinality stays under the store's topk_max
            merged = merged.withColumn(
                "top_items",
                F.expr(f"approx_top_k_estimate(tks, {int(topk or 5)})"),
            ).drop("tks")
        return merged

    def read(
        self,
        start_us: Optional[int] = None,
        end_us: Optional[int] = None,
        spread_keys: bool = False,
        pctls=None,
        topk=None,
    ) -> DataFrame:
        """The merged rollup (optionally time-restricted — the filter
        lands on the store scan and prunes row groups via the
        bucket_us sort). Store-side merge is exchange-free: the table
        is hash-bucketed on bucket_us, which clusters every
        (bucket_us, *keys) group.

        ``spread_keys`` is the HOT-BUCKET escape: bucket_us clustering
        puts every key of one time bucket in ONE task, so a single
        mega-bucket (one hot hour holding most of the keys) serializes
        its merge. Spreading repartitions on the FULL group key
        (bucket_us, *keys) first — one deliberate exchange that fans
        the hot bucket's keys across all tasks. Default off: the
        exchange-free path wins whenever buckets are reasonably
        balanced, which time buckets at production grain are.
        ``spread_keys="auto"`` derives the decision from the store's
        own bucket-size distribution — from the write-maintained meta
        histogram at ZERO extra job cost (``_hot_bucket_from_hist``;
        the serving path pays nothing), falling back to one bounded
        gauge aggregation for pre-histogram stores (``_hot_bucket``);
        result-identical every way."""
        p = self.live_partials
        if start_us is not None:
            p = p.filter(F.col("bucket_us") >= start_us)
        if end_us is not None:
            p = p.filter(F.col("bucket_us") < end_us)
        p = self._maybe_spread(p, spread_keys, start_us, end_us)
        return self._finish(merge_partials(p, self.key_cols), pctls, topk)

    def read_with(
        self,
        tail_events: DataFrame,
        start_us: Optional[int] = None,
        end_us: Optional[int] = None,
        spread_keys: bool = False,
        pctls=None,
        topk=None,
    ) -> DataFrame:
        """REAL-TIME read (the continuous-aggregate lambda shape,
        TimescaleDB's real-time aggregates): the merged rollup over the
        persisted partials UNION a raw ``tail_events`` frame that has
        NOT yet been ``update()``d into the store — serving sees
        up-to-the-second data without waiting for the batch append.
        The tail is aggregated to the store's grain/keys/sketches with
        the same partials expression, unioned below the merge, so the
        result is EXACTLY what ``read()`` would return after
        ``update(tail_events)`` — count/sum/min/max/sketches are all
        mergeable, and the tail aggregation is tail-sized.

        Caller contract (the same one update() has): ``tail_events``
        are events the store has not seen — passing an already-updated
        batch double-counts, exactly as update()ing it twice would."""
        tail = rollup_partials(
            tail_events, self.ts_col, self.key_cols, self.value_col,
            self.grain_us, ndv_col=self.ndv_col, ndv_lgk=self.ndv_lgk,
            pctl_col=self.pctl_col, pctl_k=self.pctl_k,
            topk_col=self.topk_col, topk_max=self.topk_max,
        )
        p = self.live_partials.drop("gen").unionByName(tail)
        if start_us is not None:
            p = p.filter(F.col("bucket_us") >= start_us)
        if end_us is not None:
            p = p.filter(F.col("bucket_us") < end_us)
        p = self._maybe_spread(p, spread_keys, start_us, end_us)
        return self._finish(merge_partials(p, self.key_cols), pctls, topk)

    def read_at(self, grain_us: int,
                start_us: Optional[int] = None,
                end_us: Optional[int] = None,
                spread_keys: bool = False,
                pctls=None, topk=None) -> DataFrame:
        """The rollup at a COARSER grain, served from this store's
        partials — the rollup-lattice property: count/sum/min/max
        partials at one grain merge exactly into any multiple of it, so
        a daily view never touches raw events when an hourly store
        exists. ``grain_us`` must be a positive multiple of the store's
        grain."""
        if grain_us <= 0 or grain_us % self.grain_us != 0:
            raise ValueError(
                f"read_at: {grain_us} is not a multiple of the store "
                f"grain {self.grain_us}"
            )
        p = self.live_partials
        if start_us is not None:
            p = p.filter(F.col("bucket_us") >= start_us)
        if end_us is not None:
            p = p.filter(F.col("bucket_us") < end_us)
        coarse = p.withColumn(
            "bucket_us",
            F.col("bucket_us") - (F.col("bucket_us") % F.lit(grain_us)),
        )
        # coarsening concentrates buckets (24 hours -> 1 day), so the
        # hot-bucket escape matters MORE here; same one-exchange trade
        # as read(). "auto" gauges the COARSENED distribution — that is
        # the grouping the merge actually runs at (the meta histogram
        # coarsens driver-side by summing finer-bucket counts).
        coarse = self._maybe_spread(coarse, spread_keys, start_us, end_us,
                                    grain_us)
        return self._finish(merge_partials(coarse, self.key_cols), pctls,
                            topk)

    def read_sliding(self, window_us: int, slide_us: Optional[int] = None,
                     start_us: Optional[int] = None,
                     end_us: Optional[int] = None,
                     spread_keys: bool = False,
                     pctls=None, topk=None) -> DataFrame:
        """SLIDING-window aggregates served from the stored partials —
        the overlapping-window shape ``read``/``read_at`` (tumbling)
        cannot express: e.g. a 6-hour window advancing hourly from an
        hourly store. Each stored bucket explodes to the
        ``window_us / slide_us`` slide-aligned window starts that cover
        it (pure integer arithmetic, map-side) and the same mergeable
        partials (count/sum/min/max + every sketch column) fold per
        (win_start, *keys) — raw events are never rescanned, and the
        read costs one aggregation over partials x (window/slide).

        ``window_us`` and ``slide_us`` (default: the store grain) must
        be positive multiples of the grain with slide <= window (a
        slide beyond the window would silently drop buckets between
        windows — refuse rather than sample). Output: ``win_start`` +
        keys + the usual aggregate columns; windows at the data's edges
        are partially filled, exactly as the direct computation over
        raw events would produce. ``start_us``/``end_us`` restrict the
        CONTRIBUTING BUCKETS (same contract as ``read``): a window
        whose span crosses the range boundary is served from its
        in-range buckets only."""
        slide_us = self.grain_us if slide_us is None else slide_us
        for nm, v in (("window_us", window_us), ("slide_us", slide_us)):
            if v <= 0 or v % self.grain_us != 0:
                raise ValueError(
                    f"read_sliding: {nm}={v} is not a positive multiple "
                    f"of the store grain {self.grain_us}")
        if slide_us > window_us:
            raise ValueError(
                f"read_sliding: slide {slide_us} > window {window_us} "
                "would drop buckets between windows")
        p = self.live_partials
        if start_us is not None:
            p = p.filter(F.col("bucket_us") >= start_us)
        if end_us is not None:
            p = p.filter(F.col("bucket_us") < end_us)
        b = F.col("bucket_us")
        s = F.lit(int(slide_us))
        # slide-aligned window starts w with w <= bucket < w + window:
        # k in [floor((b - window)/slide) + 1, floor(b/slide)] — buckets
        # are epoch micros but (b - window) can go negative at the
        # epoch's edge, so use the sign-safe pmod floor-div
        lo = b - F.lit(int(window_us))
        k_min = ((lo - F.pmod(lo, s)) / s).cast("long") + 1
        k_max = ((b - F.pmod(b, s)) / s).cast("long")
        exploded = (
            p.withColumn("__k", F.explode(F.sequence(k_min, k_max)))
            .withColumn("bucket_us", F.col("__k") * s)
            .drop("__k")
        )
        if spread_keys:
            # sliding merges group on (win, *keys): the deliberate
            # one-exchange hot-window escape, same trade as read()
            exploded = exploded.repartition("bucket_us", *self.key_cols)
        merged = merge_partials(exploded, self.key_cols)
        return self._finish(merged, pctls, topk).withColumnRenamed(
            "bucket_us", "win_start")

    def expire(self, before_us: int,
               num_buckets: Optional[int] = None) -> None:
        """Retention: drop every bucket strictly older than
        ``before_us`` (the continuous-aggregate drop-chunks shape —
        rollups usually outlive raw events, but not forever). One
        staged bucketed rewrite of the surviving LIVE partials under the
        writer lease; the bucket_us sort means the filter prunes row
        groups on the read side, and readers never see a partial
        cut (atomic swap). ``before_us`` is compared against bucket
        starts, so a bucket whose START is >= before_us survives
        whole. Row generations are PRESERVED (no folding), so this
        never seals batches — corrections stay possible afterwards;
        tombstoned rows are purged and the (re-appliable-as-no-op)
        tombstones cleared."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            if num_buckets is None:
                num_buckets = self.num_buckets
            # Pre-rewrite meta commit — compact()'s two-step ordering:
            # the rewrite purges tombstoned rows and expired buckets,
            # so versions before this point must be REFUSED before any
            # row they need can disappear. A crash between this commit
            # and the rewrite leaves the table intact, dead rows still
            # tombstone-filtered, and read_asof conservatively refusing
            # — never reconstructing from purged rows. The histogram
            # goes UNKNOWN through the rewrite (gauge fallback), same
            # as compact().
            self.num_buckets = num_buckets
            self.gen_hist = None
            self._record_version("expire", seal=True)
            self._save_meta()
            raw = self.catalog.read_raw(self.table_name)
            if "gen" not in raw.columns:  # migrate pre-gen stores in place
                raw = raw.withColumn("gen", F.lit(0).cast("long"))
            self._write_table(
                self._live(raw, "gen").filter(
                    F.col("bucket_us") >= F.lit(before_us)
                ),
                num_buckets=num_buckets,
            )
            clear_tombstones(self._tombstone_path())
            # the rewrite just materialized exactly the surviving rows
            # — rebuild the bucket histogram from them (also upgrades
            # pre-histogram stores; defensive against any hist entry a
            # crashed correction left behind, since the tombstones it
            # relied on are cleared here)
            self._hist_rebuild_locked()
            self._hist_commit(reevaluate=True)
            self._save_meta()

    def compact(self, num_buckets: Optional[int] = None) -> None:
        """Fold accumulated LIVE partials to one row per (bucket, key)
        and one file per bucket. Raw-parquet source, as in every
        artifact compaction (the bucketed scan's claimed partitioning
        would elide the rewrite's repartition).

        Folding erases batch identity: the folded rows take ONE fresh
        generation and every earlier generation is SEALED — a later
        ``replace_batch`` of a folded batch is refused (the analog of a
        Lucene segment merge sealing its deletes). Meta is committed
        BEFORE the rewrite, so a crash mid-compact leaves a gen gap,
        never a generation collision; tombstones pending at a crash
        re-apply to the folded rows as no-ops (their cuts reference
        strictly older generations)."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            if num_buckets is None:
                num_buckets = self.num_buckets
            new_gen = self.cur_gen + 1
            self.cur_gen = new_gen
            self.sealed_below = new_gen
            # every corrected gen is now sealed — the sealed check
            # subsumes the chain, so the map resets with the fold
            self.corrected = {}
            # histogram goes UNKNOWN through the fold (a crash between
            # this meta commit and the rewrite must leave auto-reads on
            # the gauge fallback, never on stale counts); recomputed
            # from the folded table below
            self.gen_hist = None
            self.num_buckets = num_buckets
            # recorded (and sealed) in the SAME pre-rewrite commit as
            # the generation fold: a crash between this commit and the
            # rewrite must leave historical versions refused, never
            # reconstructing from rows the restarted compact rewrites
            self._record_version("compact", add=[new_gen], reset=True,
                                 seal=True)
            self._save_meta()
            raw = self.catalog.read_raw(self.table_name)
            if "gen" not in raw.columns:  # migrate pre-gen stores in place
                raw = raw.withColumn("gen", F.lit(0).cast("long"))
            rows = merge_partials(
                self._live(raw, "gen"), self.key_cols
            ).withColumn("gen", F.lit(new_gen).cast("long"))
            self._write_table(rows, num_buckets=num_buckets)
            clear_tombstones(self._tombstone_path())
            # fold complete: one fresh generation, one bounded count
            self.gen_hist = {
                str(new_gen): self._hist_of(
                    self.catalog.read_raw(self.table_name)
                )
            }
            self._hist_commit(reevaluate=True)
            self._save_meta()
