"""Incrementally-maintained materialized join view (IVM): a persisted
equi-join of two append/correct streams that is updated by DELTA joins,
never recomputed — the Materialize / TimescaleDB-continuous-aggregate
answer to "this dashboard join rescans two huge tables every refresh",
and the join-shaped sibling of RollupStore (which maintains
aggregations the same way).

The reference maintains DERIVED state incrementally on every put — the
secondary index rows a mutation implies (IndexRegionObserver's
prePut/postPut derivation, build.py:59 mirrors it). A join view is the
same discipline applied to a two-table join: each side's new batch
implies exactly ``delta >< other_side`` new join rows.

Delta algebra (inner equi-join):

- ``update_left(dl)``:  MV += dl >< R_live;   L += dl    (one
  delta-sized join against the bucketed right store — co-located, the
  store side never reshuffles)
- ``update_right(dr)``: MV += L_live >< dr;   R += dr
- every MV row carries (lgen, rgen) — the generation of the left and
  right source rows that produced it. Retracting a batch therefore
  needs NO delta computation at all: killing left generation g kills
  exactly the MV rows with ``lgen = g``, however long ago they were
  produced and whichever later right-batches joined against g's rows.
- ``replace_*_batch`` = retract + append-corrected under one lease:
  the corrected rows join against the CURRENT live other side, so the
  view converges to exactly the join of the surviving batches (pinned
  by the interleaving property test).

Liveness needs no tombstone files: a generation is dead iff the meta's
correction map says so, and the whole-generation cut is a driver-side
``NOT IN (dead gens)`` scan filter — zero extra jobs, pushed to the
parquet scan. ``compact()`` rewrites the three tables without dead
rows and SEALS the folded generations (corrections of them are refused
afterwards — the generation-store rule, operators/artifact.py).

Scale: updates cost one delta-sized bucketed join + delta-sized
appends; reads cost a scan filter over the materialized result —
never the join. The MV is bucketed on the join key, so downstream
key-grouped consumption stays exchange-free.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hindex_spark.operators.artifact import VersionedStore


class JoinView(VersionedStore):
    """Persisted incrementally-maintained inner equi-join.

    Lifecycle::

        jv = JoinView.build(cat, orders, items, "o_orderkey", "oi")
        lg = jv.update_left(new_orders)     # delta join + append
        rg = jv.update_right(new_items)
        jv.replace_right_batch(rg, fixed)   # correct a bad batch
        joined = jv.read()                  # materialized, no join

    Each side ("l", "r") is its own generation line; version history
    entries carry the ``side`` they touched ("" = both, compact).
    """

    kind = "joinview"

    @property
    def bucket_col(self) -> str:
        return self.key

    @property
    def table_name(self) -> str:
        """The MV table directory — what ``artifact.maybe_compact``'s
        duck-typed maintenance gauges (file fragmentation; this store
        has no tombstone files, so only the file trigger fires)."""
        return self._tbl("mv")

    def _tbl(self, side: str) -> str:
        return f"{self.name}_jv{side}_bucketed"

    def _meta(self) -> dict:
        return {**super()._meta(), "key": self.key,
                "left_cols": self.left_cols,
                "right_cols": self.right_cols,
                "cur_lgen": self.cur_lgen, "cur_rgen": self.cur_rgen,
                "sealed_lbelow": self.sealed_lbelow,
                "sealed_rbelow": self.sealed_rbelow,
                "corrected_l": self.corrected_l,
                "corrected_r": self.corrected_r}

    def _load_meta(self, m: dict) -> None:
        super()._load_meta(m)
        self.key = m["key"]
        self.left_cols = list(m["left_cols"])
        self.right_cols = list(m["right_cols"])
        self.cur_lgen = m.get("cur_lgen", 0)
        self.cur_rgen = m.get("cur_rgen", 0)
        self.sealed_lbelow = m.get("sealed_lbelow", 0)
        self.sealed_rbelow = m.get("sealed_rbelow", 0)
        #: str(gen) -> superseding gen (None = retracted); a gen is
        #: DEAD iff present here
        self.corrected_l = m.get("corrected_l", {})
        self.corrected_r = m.get("corrected_r", {})

    @classmethod
    def build(cls, catalog, left: DataFrame, right: DataFrame, key: str,
              name: str, num_buckets: int = 32) -> "JoinView":
        """Materialize the initial join (generation 0 on both sides).
        Non-key column names must be disjoint across sides — the MV
        carries both payloads side by side."""
        lcols = [c for c in left.columns if c != key]
        rcols = [c for c in right.columns if c != key]
        clash = sorted(set(lcols) & set(rcols))
        if clash:
            raise ValueError(
                f"non-key columns present on both sides: {clash}; "
                "alias one side before build()"
            )
        if key not in left.columns or key not in right.columns:
            raise ValueError(f"join key {key!r} missing from a side")
        jv = cls(catalog, name, {
            "key": key, "left_cols": lcols, "right_cols": rcols,
            "num_buckets": num_buckets,
            "history": [{"v": 0, "op": "build", "side": "",
                         "add": [], "drop": []}],
        })
        # Normalize to key-first column order BEFORE persisting: every
        # later append is a positional INSERT INTO that selects
        # (key, *cols, gen) — a build frame with the key not first
        # would otherwise store a swapped layout that appends silently
        # corrupt.
        left = left.select(key, *lcols)
        right = right.select(key, *rcols)
        lrows = left.withColumn("gen", F.lit(0).cast("long"))
        rrows = right.withColumn("gen", F.lit(0).cast("long"))
        mv = (
            left.join(right, key)
            .withColumn("lgen", F.lit(0).cast("long"))
            .withColumn("rgen", F.lit(0).cast("long"))
            .select(key, *lcols, *rcols, "lgen", "rgen")
        )
        for side, rows in (("l", lrows), ("r", rrows), ("mv", mv)):
            jv._write_table(rows, jv._tbl(side))
        jv._save_meta()
        return jv

    @staticmethod
    def _minus_dead(df: DataFrame, gen_col: str, dead: dict) -> DataFrame:
        """Drop dead generations — a scan filter from meta, no jobs.
        No deaths -> the frame untouched."""
        if not dead:
            return df
        return df.filter(~F.col(gen_col).isin([int(g) for g in dead]))

    def left_rows(self) -> DataFrame:
        """The live left side (surviving batches)."""
        return self._minus_dead(self._raw(self._tbl("l")), "gen",
                                self.corrected_l)

    def right_rows(self) -> DataFrame:
        return self._minus_dead(self._raw(self._tbl("r")), "gen",
                                self.corrected_r)

    def read(self, with_gens: bool = False) -> DataFrame:
        """The maintained join — a filtered scan of the materialized
        table, NEVER a join. A row is live iff BOTH its source
        generations survive."""
        mv = self._minus_dead(
            self._minus_dead(self._raw(), "lgen", self.corrected_l),
            "rgen", self.corrected_r,
        )
        return mv if with_gens else mv.drop("lgen", "rgen")

    def read_left_outer(self) -> DataFrame:
        """LEFT OUTER serving over the inner-maintained view: the
        materialized inner rows UNION the live left rows whose key has
        no live right match, right payload NULL. Outer semantics are
        DERIVED AT READ TIME (one key-projected anti-join of the two
        side stores — both bucketed on the key, so it co-partitions
        without a shuffle) instead of maintained: maintaining outer
        rows incrementally needs per-row match counting (a right batch
        adding the first match for a key must retract its null row),
        which buys nothing over this bounded read-time derivation.
        ``read_right_outer`` is the caller swapping sides at build."""
        mv_schema = {f.name: f.dataType for f in self._raw().schema}
        rkeys = self.right_rows().select(self.key).distinct()
        unmatched = (
            self.left_rows().drop("gen")
            .join(rkeys, self.key, "left_anti")
        )
        for c in self.right_cols:
            unmatched = unmatched.withColumn(
                c, F.lit(None).cast(mv_schema[c])
            )
        return self.read().unionByName(
            unmatched.select(self.key, *self.left_cols, *self.right_cols)
        )

    def read_with(self, tail_left: Optional[DataFrame] = None,
                  tail_right: Optional[DataFrame] = None,
                  with_gens: bool = False) -> DataFrame:
        """REAL-TIME read (the lambda shape RollupStore.read_with and
        ProfileStore.read_with serve): the maintained view UNION the
        join rows the un-ingested tail batches imply — exactly what
        ``read()`` would return after ``update_left(tail_left)`` +
        ``update_right(tail_right)``, without writing anything. Same
        caller contract as update(): tails are batches the view has
        NOT seen. Delta algebra: tl><R + L><tr + tl><tr."""
        out = self.read(with_gens=True)
        mvcols = [self.key, *self.left_cols, *self.right_cols,
                  "lgen", "rgen"]
        fake = F.lit(-1).cast("long")
        if tail_left is not None:
            self._check_side(tail_left, self.left_cols)
            out = out.unionByName(
                tail_left.join(self.right_rows(), self.key)
                .withColumnRenamed("gen", "rgen")
                .withColumn("lgen", fake).select(*mvcols)
            )
        if tail_right is not None:
            self._check_side(tail_right, self.right_cols)
            out = out.unionByName(
                self.left_rows().withColumnRenamed("gen", "lgen")
                .join(tail_right, self.key)
                .withColumn("rgen", fake).select(*mvcols)
            )
        if tail_left is not None and tail_right is not None:
            out = out.unionByName(
                tail_left.join(tail_right, self.key)
                .withColumn("lgen", fake).withColumn("rgen", fake)
                .select(*mvcols)
            )
        return out if with_gens else out.drop("lgen", "rgen")

    def _live_at(self, version: int) -> dict:
        """Replay the history prefix into per-side live generation
        sets. Compact's folded gens ADD without clearing — the same
        tolerant replay as GenerationStore._live_gens_at (pre-fold rows
        and folded rows are disjoint alternatives carrying identical
        values, so the union reads correctly before AND after the
        rewrite, including a crash between meta commit and fold)."""
        live = {"l": {0}, "r": {0}}
        for ev in self.history:
            if ev["v"] > version:
                break
            if ev["side"] in live:
                live[ev["side"]] |= set(ev["add"])
                live[ev["side"]] -= set(ev["drop"])
            else:  # compact touches both sides
                live["l"] |= set(ev["add"][:1])
                live["r"] |= set(ev["add"][1:])
        return live

    def read_asof(self, version: int, with_gens: bool = False) -> DataFrame:
        """TIME TRAVEL: the view exactly as ``read()`` returned it at
        store version ``version`` (build = 0; every mutating verb
        bumps, ``versions()`` lists them). A generation-set scan
        filter replayed from meta — zero extra jobs; versions before
        the last compact() rewrite are refused (the VACUUM rule)."""
        self._check_asof(version, "join view")
        live = self._live_at(version)
        mv = self._raw().filter(
            F.col("lgen").isin([int(g) for g in sorted(live["l"])])
            & F.col("rgen").isin([int(g) for g in sorted(live["r"])])
        )
        return mv if with_gens else mv.drop("lgen", "rgen")

    # -- maintenance --------------------------------------------------------

    def _check_side(self, batch: DataFrame, cols: List[str]) -> None:
        want = {self.key, *cols}
        if set(batch.columns) != want:
            raise ValueError(
                f"batch columns {sorted(batch.columns)} != view side "
                f"{sorted(want)}"
            )

    def _side(self, side: str):
        """(cur gen, sealed-below, correction map, payload columns) of
        side ``"l"`` or ``"r"``; the map is the live object."""
        if side == "l":
            return (self.cur_lgen, self.sealed_lbelow, self.corrected_l,
                    self.left_cols)
        return (self.cur_rgen, self.sealed_rbelow, self.corrected_r,
                self.right_cols)

    def _append_side(self, side: str, batch: DataFrame, gen: int) -> None:
        """Append a ``side`` batch at ``gen``: the delta join against
        the other side's LIVE rows into the MV, and the batch itself
        into its side table — two delta-sized INSERTs run as
        concurrent jobs (different tables, no shared input)."""
        g = F.lit(gen).cast("long")
        if side == "l":
            delta = (batch.join(self.right_rows(), self.key)
                     .withColumnRenamed("gen", "rgen").withColumn("lgen", g))
        else:
            delta = (self.left_rows().withColumnRenamed("gen", "lgen")
                     .join(batch, self.key).withColumn("rgen", g))
        # column order must match the stored MV exactly (positional
        # INSERT INTO)
        delta = delta.select(
            self.key, *self.left_cols, *self.right_cols, "lgen", "rgen"
        )
        rows = batch.select(self.key, *self._side(side)[3]).withColumn(
            "gen", g)
        self._insert_pair((delta,), (rows, self._tbl(side)))

    def _update(self, side: str, batch: DataFrame) -> int:
        self._check_side(batch, self._side(side)[3])
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            gen = self._side(side)[0] + 1
            self._append_side(side, batch, gen)
            setattr(self, f"cur_{side}gen", gen)
            self._record_version("update", add=[gen], side=side)
            self._save_meta()
        return gen

    def _delete(self, side: str, gen: int) -> None:
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            cur, sealed, corrected, _ = self._side(side)
            self._check_correctable(gen, cur, sealed, corrected,
                                    f"{side}-generation")
            corrected[str(gen)] = None
            self._record_version("delete", drop=[gen], side=side)
            self._save_meta()

    def _replace(self, side: str, gen: int, batch: DataFrame) -> int:
        self._check_side(batch, self._side(side)[3])
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            cur, sealed, corrected, _ = self._side(side)
            self._check_correctable(gen, cur, sealed, corrected,
                                    f"{side}-generation")
            new_gen = cur + 1
            corrected[str(gen)] = new_gen
            self._append_side(side, batch, new_gen)
            setattr(self, f"cur_{side}gen", new_gen)
            self._record_version("replace", add=[new_gen], drop=[gen],
                                 side=side)
            self._save_meta()
        return new_gen

    def update_left(self, batch: DataFrame) -> int:
        """Append a left batch: delta join against the live right
        store, both appends delta-sized. Returns the batch's
        generation (the handle corrections use)."""
        return self._update("l", batch)

    def update_right(self, batch: DataFrame) -> int:
        return self._update("r", batch)

    def delete_left_batch(self, gen: int) -> None:
        """Retract a left batch: one meta write — the MV rows it
        produced die by their ``lgen`` stamp, nothing is scanned or
        rewritten until compact()."""
        self._delete("l", gen)

    def delete_right_batch(self, gen: int) -> None:
        self._delete("r", gen)

    def replace_left_batch(self, gen: int, corrected: DataFrame) -> int:
        """Correct a left batch: retract + append-corrected under ONE
        lease (readers between the two steps of a lockless version
        would see the join without the batch). Returns the new
        generation."""
        return self._replace("l", gen, corrected)

    def replace_right_batch(self, gen: int, corrected: DataFrame) -> int:
        return self._replace("r", gen, corrected)

    def compact(self, num_buckets: Optional[int] = None) -> None:
        """Purge dead generations physically and fold the survivors to
        one fresh generation per side — corrections of folded batches
        are refused afterwards (sealed), as in every generation store.

        Crash safety is a TWO-step meta commit: (1) before any rewrite,
        bump + seal the generation counters but KEEP the correction
        maps — a crash after some table swaps leaves every dead row
        still filtered (folded tables' renamed gens aren't in the maps;
        unfolded tables' dead gens still are) and the bumped counters
        prevent a later update from colliding with a folded gen;
        (2) only after all three rewrites, clear the maps."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            if num_buckets is None:
                num_buckets = self.num_buckets
            new_l, new_r = self.cur_lgen + 1, self.cur_rgen + 1
            dead_l, dead_r = dict(self.corrected_l), dict(self.corrected_r)
            live_l = self._minus_dead(
                self.catalog.read_raw(self._tbl("l")), "gen", dead_l
            ).withColumn("gen", F.lit(new_l).cast("long"))
            live_r = self._minus_dead(
                self.catalog.read_raw(self._tbl("r")), "gen", dead_r
            ).withColumn("gen", F.lit(new_r).cast("long"))
            live_mv = self._minus_dead(
                self._minus_dead(
                    self.catalog.read_raw(self._tbl("mv")), "lgen", dead_l
                ), "rgen", dead_r,
            ).withColumn("lgen", F.lit(new_l).cast("long")) \
             .withColumn("rgen", F.lit(new_r).cast("long"))
            self.cur_lgen, self.cur_rgen = new_l, new_r
            self.sealed_lbelow, self.sealed_rbelow = new_l, new_r
            self.num_buckets = num_buckets
            self._record_version("compact", add=[new_l, new_r], seal=True,
                                 side="")
            self._save_meta()              # step 1: bump + seal
            for side, rows in (("l", live_l), ("r", live_r),
                               ("mv", live_mv)):
                self._write_table(rows, self._tbl(side),
                                  num_buckets=num_buckets)
            self.corrected_l, self.corrected_r = {}, {}
            self._save_meta()              # step 2: maps cleared
