"""One-pass per-column data profiling — the data-quality step every
ingestion pipeline runs before accepting a batch: row/null counts,
distinct counts, and canonical min/max per column, for ANY subset of
columns, in ONE aggregation job (a single scan computes every column's
statistics; the per-column results unpivot driver-free via ``stack``).

NDV is a DataSketches HLL estimate by default (``ndv_lgk=16`` — exact
through ~5k distinct, graceful ~0.5% error beyond; the only answer that
stays one-pass and mergeable at 100 TB). ``exact_ndv=True`` switches to
``count(DISTINCT)`` — Spark computes multiple exact distincts in one
job via expand, at a data-proportional cost — which is what the
oracle-checked gate pins (exact at every scale factor), while the
sketch default carries the documented exactness boundary
(tests/test_pipeline_ops.py pins both).

min/max are CANONICAL STRING representations so one schema serves every
column type deterministically across engines: strings pass through
(binary collation both engines), integers render as digits, fractional
numerics at fixed 6dp (``%.6f`` — the repo's fixed-point convention),
timestamps as epoch micros (via timeutil, physical-type agnostic).

The second half of this module is the PERSISTED form:
:func:`profile_partials` / :func:`merge_profile_partials` /
:func:`render_profile` and :class:`ProfileStore` — per-ingest-batch
mergeable profile rows (counts, typed min/max, HLL NDV + optional KLL
quantile sketches) appended as correctable generations, so the
whole-corpus profile is served from a columns-sized store instead of a
corpus rescan.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hindex_spark.operators.artifact import GenerationStore, clear_tombstones
from hindex_spark.session import local_frame
from hindex_spark.timeutil import ts_micros

_INT_TYPES = ("tinyint", "smallint", "int", "bigint", "long")


def _kind_of(dtype: str) -> str:
    """Column kind for the typed min/max slot + canonical repr — the
    SAME dispatch as :func:`profile` so a store-merged read renders
    bit-identically to the one-shot profiler."""
    if dtype in ("double", "float") or dtype.startswith("decimal"):
        return "num"
    if dtype.startswith("timestamp"):
        return "ts"
    if dtype in _INT_TYPES:
        return "int"
    return "str"  # string / boolean / anything with a stable cast


def histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """Equi-width histogram of a numeric column: (bin, lo, hi, cnt),
    bin in [0, bins), empty bins present with cnt = 0 — the profiling
    staple next to ``profile``'s min/max/ndv. Two bounded jobs: one
    min/max agg, one bucketed count (both map-side partials). Nulls
    are excluded; a constant or all-null column returns one bin
    holding every non-null row.

    NOTE: the min/max agg runs EAGERLY at construction (one bounded
    driver-side ``.first()`` — the bin edges are literals in the
    returned plan); don't compose inside per-row loops."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1 (got {bins})")
    v = F.col(col).cast("double")
    stats = df.select(F.min(v).alias("lo"), F.max(v).alias("hi")).first()
    lo, hi = stats["lo"], stats["hi"]
    spark = df.sparkSession
    if lo is None or lo == hi:
        n = df.filter(v.isNotNull()).count()
        return local_frame(
            spark, [(0, float(lo or 0), float(hi or 0), n)],
            "bin long, lo double, hi double, cnt long",
        )
    width = (hi - lo) / bins
    # explicit floor arithmetic, NOT width_bucket: the bin must be the
    # same float expression an external engine can evaluate
    # (floor((v - lo) / (hi - lo) * bins)), so histograms are
    # bit-reproducible for auditing — width_bucket's internal rounding
    # is engine-private
    bucket = F.greatest(
        F.lit(0),
        F.least(
            F.lit(bins - 1),
            F.floor((v - F.lit(lo)) / F.lit(hi - lo) * bins).cast("long"),
        ),
    )
    counts = (
        df.filter(v.isNotNull())
        .groupBy(bucket.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )
    grid = spark.range(bins).select(F.col("id").alias("bin"))
    return (
        grid.join(counts, "bin", "left")
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("hi"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
        )
    )


def correlations(df: DataFrame, cols: List[str]) -> DataFrame:
    """Pairwise Pearson correlation matrix (upper triangle):
    (col_a, col_b, corr) for every a < b pair, all coefficients in ONE
    aggregation pass (C(n,2) corr aggregates share the scan and fold
    map-side). Rounded to 6dp then cast to DOUBLE — the repo's
    cross-engine hash convention; NEVER a decimal final column, which
    engines canonicalize differently at the comparison edge (the class
    that kept the rollup gates red for three rounds).

    NOTE: executes one bounded driver-side collect (a single stats row
    — the AggregationClient final-merge pattern); the operator is
    EAGER, so don't compose it inside per-row loops."""
    if len(cols) < 2:
        raise ValueError("correlations needs at least two columns")
    aggs = [
        F.round(F.corr(F.col(a).cast("double"), F.col(b).cast("double")), 6)
        .cast("double").alias(f"__c_{i}")
        for i, (a, b) in enumerate(
            (a, b) for ai, a in enumerate(cols) for b in cols[ai + 1:]
        )
    ]
    row = df.agg(*aggs).first()
    pairs = [(a, b) for ai, a in enumerate(cols) for b in cols[ai + 1:]]
    out = [(a, b, row[i]) for i, (a, b) in enumerate(pairs)]
    return local_frame(
        df.sparkSession, out, "col_a string, col_b string, corr double"
    )


def flag_anomalies(
    df: DataFrame,
    key_cols: List[str],
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-key outlier flags — the monitoring read over a
    rollup: a row is anomalous when its value deviates from its key's
    DISCRETE median by more than ``k`` times the key's MAD (median
    absolute deviation). Output = input columns + ``med``, ``mad``,
    ``is_anomaly``.

    Both medians are DISCRETE (the element at rank ceil(n/2) in the
    key's sorted values) — the repo's KLL quantile convention: an
    element pick has no float interpolation to diverge between
    engines, so the flags are bit-reproducible (DuckDB quantile_disc
    mirrors it exactly). A key whose MAD is 0 (constant-majority
    series) flags every value different from the median.

    NULL values are EXCLUDED from both medians (n counts non-null
    values; nulls sort last so the rank lands on a real value) — a
    null row gets its key's med/mad but ``is_anomaly`` NULL; a key
    whose values are all null gets med/mad/is_anomaly all NULL.

    Two key-partitioned sort windows (median, then median of absolute
    deviations) — rollup-sized input BY CONTRACT (full-partition
    windows: run this on the rollup read, never the raw 100 TB
    events)."""
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    w = Window.partitionBy(*key_cols)
    wo = w.orderBy(v.asc_nulls_last())
    med = F.first(
        F.when(
            F.row_number().over(wo)
            == F.ceil(F.count(v).over(w) / 2).cast("int"),
            v,
        ),
        ignorenulls=True,
    ).over(w)
    stage1 = df.withColumn("med", med).withColumn(
        "__ad", F.abs(v - F.col("med"))
    )
    wo2 = w.orderBy(F.col("__ad").asc_nulls_last())
    mad = F.first(
        F.when(
            F.row_number().over(wo2)
            == F.ceil(F.count("__ad").over(w) / 2).cast("int"),
            F.col("__ad"),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        stage1.withColumn("mad", mad)
        .withColumn(
            "is_anomaly",
            F.abs(v - F.col("med")) > F.lit(float(k)) * F.col("mad"),
        )
        .drop("__ad")
    )


def profile(
    df: DataFrame,
    columns: Optional[List[str]] = None,
    exact_ndv: bool = False,
    ndv_lgk: int = 16,
    pctls: Optional[List[float]] = None,
    pctl_k: int = 4096,
) -> DataFrame:
    """(col_name, n_rows, n_null, ndv, min_repr, max_repr[, pNN...]) —
    one row per profiled column, one aggregation job total.

    ``pctls`` adds a ``pNN`` DOUBLE column per requested quantile,
    computed for NUMERIC/timestamp columns via a KLL sketch (exact
    while the column's row count stays under ``pctl_k`` — the same
    discrete element-at-rank-ceil(p*n) contract as the rollup's
    pctl_col, same documented degradation beyond) and NULL for string
    columns."""
    cols = list(columns) if columns is not None else list(df.columns)
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, c in enumerate(cols):
        t = dtypes[c]
        col = F.col(c)
        if t in ("double", "float") or t.startswith("decimal"):
            base = col  # min/max on the VALUE, repr at the edge
            rep = lambda x: F.format_string("%.6f", F.round(x, 6))  # noqa: E731
            sk = F.format_string("%.6f", F.round(col, 6))  # string-keyed
        elif t.startswith("timestamp"):
            base = ts_micros(df, c)
            rep = lambda x: x.cast("string")  # noqa: E731
            sk = base
        elif t in _INT_TYPES or t == "boolean":
            base = col
            rep = lambda x: x.cast("string")  # noqa: E731
            sk = col if t in _INT_TYPES else col.cast("string")
        else:  # string and anything else with a stable cast
            base = col.cast("string")
            rep = lambda x: x  # noqa: E731
            sk = col.cast("string")
        if exact_ndv:
            ndv = F.count_distinct(base)
        else:
            ndv = F.hll_sketch_estimate(
                F.hll_sketch_agg(sk, F.lit(int(ndv_lgk)))
            )
        aggs += [
            F.count(base).alias(f"__n_{i}"),
            ndv.cast("long").alias(f"__d_{i}"),
            rep(F.min(base)).alias(f"__mn_{i}"),
            rep(F.max(base)).alias(f"__mx_{i}"),
        ]
        if pctls:
            numeric = (
                t in ("double", "float") or t.startswith("decimal")
                or t.startswith("timestamp") or t in _INT_TYPES
            )
            for j, q in enumerate(pctls):
                if numeric:
                    aggs.append(
                        F.kll_sketch_get_quantile_double(
                            F.kll_sketch_agg_double(
                                base.cast("double"), F.lit(int(pctl_k))
                            ),
                            F.lit(float(q)),
                        ).alias(f"__q{j}_{i}")
                    )
                else:
                    aggs.append(
                        F.lit(None).cast("double").alias(f"__q{j}_{i}")
                    )
    row = df.agg(*aggs)
    qnames = [f"p{int(round(q * 100))}" for q in (pctls or ())]
    stacked = ", ".join(
        f"'{c}', __n_{i}, __d_{i}, __mn_{i}, __mx_{i}"
        + "".join(f", __q{j}_{i}" for j in range(len(qnames)))
        for i, c in enumerate(cols)
    )
    return row.select(
        F.col("__total"),
        F.expr(
            f"stack({len(cols)}, {stacked}) as (col_name, __n, ndv, "
            f"min_repr, max_repr{''.join(', ' + q for q in qnames)})"
        ),
    ).select(
        "col_name",
        F.col("__n").cast("long").alias("n_rows"),
        (F.col("__total") - F.col("__n")).cast("long").alias("n_null"),
        "ndv", "min_repr", "max_repr", *qnames,
    )


# ---------------------------------------------------------------------------
# Mergeable profiles + the persisted ProfileStore
# ---------------------------------------------------------------------------

def profile_partials(
    df: DataFrame,
    columns: Optional[List[str]] = None,
    ndv_lgk: int = 16,
    pctl_k: Optional[int] = None,
) -> DataFrame:
    """One batch's MERGEABLE profile rows — the per-ingest-batch shape:
    (col_name, n_total, n_nonnull, nds, min_l, max_l, min_d, max_d,
    min_s, max_s), one row per column, ONE aggregation job (same
    single-scan stack-unpivot as :func:`profile`).

    Every statistic merges exactly across batches: counts add, typed
    min/max fold (each column populates only its kind's slot — longs
    for ints/timestamp-micros, doubles for fractional numerics, strings
    otherwise), and NDV rides as the HLL sketch BINARY (not the
    estimate): sketches union exactly where per-batch distinct counts
    double-count re-seen values — the same reasoning as the rollup's
    ``ndv_col``. Estimation happens once, at the merged edge
    (:func:`render_profile`), so a store-served profile is
    bit-identical to the one-shot profiler at the same ``ndv_lgk``.

    ``pctl_k`` adds a mergeable KLL quantile sketch column (``klls``,
    binary) for numeric/timestamp/int columns (NULL for strings) —
    same exactness contract as the one-shot profiler's ``pctls``
    (exact at rank ceil(p*n) while the column's total row count stays
    under k, guaranteed-error estimates beyond)."""
    cols = list(columns) if columns is not None else list(df.columns)
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__total")]
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    for i, c in enumerate(cols):
        kind = _kind_of(dtypes[c])
        col = F.col(c)
        if kind == "num":
            base, sk = col, F.format_string("%.6f", F.round(col, 6))
            mn = [null_l, null_l, F.min(base).cast("double"),
                  F.max(base).cast("double"), null_s, null_s]
        elif kind == "ts":
            base = ts_micros(df, c)
            sk = base
            mn = [F.min(base), F.max(base), null_d, null_d, null_s, null_s]
        elif kind == "int":
            base, sk = col, col
            mn = [F.min(base).cast("long"), F.max(base).cast("long"),
                  null_d, null_d, null_s, null_s]
        else:
            base, sk = col.cast("string"), col.cast("string")
            mn = [null_l, null_l, null_d, null_d, F.min(base), F.max(base)]
        aggs += [
            F.count(base).alias(f"__n_{i}"),
            F.hll_sketch_agg(sk, F.lit(int(ndv_lgk))).alias(f"__sk_{i}"),
            mn[0].alias(f"__mnl_{i}"), mn[1].alias(f"__mxl_{i}"),
            mn[2].alias(f"__mnd_{i}"), mn[3].alias(f"__mxd_{i}"),
            mn[4].alias(f"__mns_{i}"), mn[5].alias(f"__mxs_{i}"),
        ]
        if pctl_k is not None:
            aggs.append(
                (F.kll_sketch_agg_double(base.cast("double"),
                                         F.lit(int(pctl_k)))
                 if kind != "str"
                 else F.lit(None).cast("binary")).alias(f"__kll_{i}")
            )
    row = df.agg(*aggs)
    kll_sel = ", __kll_{i}" if pctl_k is not None else ""
    stacked = ", ".join(
        (f"'{c}', __n_{i}, __sk_{i}, __mnl_{i}, __mxl_{i}, __mnd_{i}, "
         f"__mxd_{i}, __mns_{i}, __mxs_{i}" + kll_sel.format(i=i))
        for i, c in enumerate(cols)
    )
    kll_name = ", klls" if pctl_k is not None else ""
    out = row.select(
        F.col("__total").cast("long").alias("n_total"),
        F.expr(
            f"stack({len(cols)}, {stacked}) as (col_name, n_nonnull, nds, "
            f"min_l, max_l, min_d, max_d, min_s, max_s{kll_name})"
        ),
    )
    keep = ["col_name", "n_total",
            F.col("n_nonnull").cast("long").alias("n_nonnull"),
            "nds", "min_l", "max_l", "min_d", "max_d", "min_s", "max_s"]
    if pctl_k is not None:
        keep.append("klls")
    return out.select(*keep)


def merge_profile_partials(partials: DataFrame) -> DataFrame:
    """Exact merge of profile partials: counts add, typed min/max fold,
    NDV (and, when present, KLL quantile) sketches union/merge — kept
    as sketches, still mergeable."""
    aggs = [
        F.sum("n_total").cast("long").alias("n_total"),
        F.sum("n_nonnull").cast("long").alias("n_nonnull"),
        F.hll_union_agg("nds").alias("nds"),
        F.min("min_l").alias("min_l"), F.max("max_l").alias("max_l"),
        F.min("min_d").alias("min_d"), F.max("max_d").alias("max_d"),
        F.min("min_s").alias("min_s"), F.max("max_s").alias("max_s"),
    ]
    if "klls" in partials.columns:
        # NULL inputs (string columns' slots) are skipped by the merge;
        # an ALL-null group merges to an invalid buffer that must never
        # be queried — render_profile's kind dispatch guarantees string
        # columns take the NULL branch, not the get_quantile one.
        aggs.append(F.kll_merge_agg_double("klls").alias("klls"))
    return partials.groupBy("col_name").agg(*aggs)


def render_profile(merged: DataFrame, kinds: Dict[str, str],
                   pctls: Optional[List[float]] = None) -> DataFrame:
    """Canonical profile frame from merged partials — the SAME output
    schema and reprs as :func:`profile`: (col_name, n_rows, n_null,
    ndv, min_repr, max_repr[, pNN...]). ``kinds`` maps col_name -> kind
    (captured at build time from the source dtypes). ``pctls`` (needs
    the ``klls`` column) adds pNN doubles for non-string columns, NULL
    for strings — string rows must never evaluate get_quantile: their
    merged slot is an invalid all-null-merge buffer, and the kind CASE
    here is what guarantees they take the literal-NULL branch."""
    numeric = [c for c, k in kinds.items() if k != "str"]

    def repr_of(lo: bool) -> F.Column:
        l, d, s = ("min_l", "min_d", "min_s") if lo else ("max_l", "max_d", "max_s")
        expr = F.lit(None).cast("string")
        for c, kind in kinds.items():
            this = (
                F.format_string("%.6f", F.round(F.col(d), 6)) if kind == "num"
                else F.col(l).cast("string") if kind in ("ts", "int")
                else F.col(s)
            )
            expr = F.when(F.col("col_name") == c, this).otherwise(expr)
        return expr

    out_cols = [
        "col_name",
        F.col("n_nonnull").alias("n_rows"),
        (F.col("n_total") - F.col("n_nonnull")).cast("long").alias("n_null"),
        F.hll_sketch_estimate("nds").cast("long").alias("ndv"),
        repr_of(True).alias("min_repr"),
        repr_of(False).alias("max_repr"),
    ]
    for q in pctls or ():
        out_cols.append(
            F.when(
                F.col("col_name").isin(numeric),
                F.kll_sketch_get_quantile_double("klls", F.lit(float(q))),
            ).otherwise(F.lit(None).cast("double"))
            .alias(f"p{int(round(q * 100))}")
        )
    return merged.select(*out_cols)


class ProfileStore(GenerationStore):
    """Persisted mergeable data-quality ledger inside a ``Catalog`` —
    the batch-ingest companion to the one-shot :func:`profile`: each
    accepted batch appends its (tiny — one row per column) profile
    partials as a GENERATION; ``read()`` merges and renders the
    whole-corpus profile without ever rescanning the corpus. At 100 TB
    that is the difference between "profile the corpus" being a daily
    batch-sized job and an impossible full-table pass; a misreported
    batch is corrected by ``replace_batch`` (generation tombstones,
    operators/artifact.py), never by recomputation.

    Lifecycle::

        ps = ProfileStore.build(cat, first_batch, ["a", "b"], "docs")
        g = ps.update(next_batch)          # batch-sized job, appends
        ps.read()                          # == profile(all_batches)
        ps.replace_batch(g, fixed_batch)   # correct a bad batch
        ps.compact()                       # fold to one row per column
    """

    kind = "profilestore"
    bucket_col = "col_name"

    def _meta(self) -> dict:
        return {**super()._meta(), "columns": self.columns,
                "kinds": self.kinds, "ndv_lgk": self.ndv_lgk,
                "pctl_k": self.pctl_k}

    def _load_meta(self, m: dict) -> None:
        super()._load_meta(m)
        self.columns = list(m["columns"])
        self.kinds = dict(m["kinds"])
        self.ndv_lgk = m.get("ndv_lgk", 16)
        #: KLL quantile sketch capacity (None = store carries no
        #: quantile column); part of the artifact identity like ndv_lgk
        self.pctl_k = m.get("pctl_k")

    @classmethod
    def build(cls, catalog, batch: DataFrame, columns: List[str],
              name: str, ndv_lgk: int = 16,
              num_buckets: int = 4,
              pctl_k: Optional[int] = None) -> "ProfileStore":
        """Gen-0 store from the first batch. The column KINDS captured
        here are the artifact's identity: every later batch must carry
        the same column types (asserted by ``update``) or the typed
        min/max slots and sketch value spaces would silently mix."""
        dtypes = dict(batch.dtypes)
        ps = cls(catalog, name, {
            "columns": list(columns),
            "kinds": {c: _kind_of(dtypes[c]) for c in columns},
            "ndv_lgk": ndv_lgk, "num_buckets": num_buckets,
            "pctl_k": pctl_k,
            "history": [{"v": 0, "op": "build", "add": [0], "drop": [],
                         "reset": True}],
        })
        ps._write_table(ps._partials_of(batch, 0))
        clear_tombstones(ps._tombstone_path())
        ps._save_meta()
        return ps

    @property
    def partials(self) -> DataFrame:
        """Stored partials, tombstoned generations included (refreshed
        at every read entry)."""
        return self._raw()

    def live_partials(self) -> DataFrame:
        return self._live(self.partials, "gen")

    def _check_batch(self, batch: DataFrame) -> None:
        dtypes = dict(batch.dtypes)
        for c in self.columns:
            if c not in dtypes:
                raise ValueError(f"batch is missing profiled column {c!r}")
            k = _kind_of(dtypes[c])
            if k != self.kinds[c]:
                raise TypeError(
                    f"column {c!r} kind changed: store={self.kinds[c]!r} "
                    f"batch={k!r} ({dtypes[c]}) — typed min/max and "
                    "sketch value spaces must not mix")

    def _partials_of(self, batch: DataFrame, gen: int) -> DataFrame:
        return profile_partials(batch, self.columns, self.ndv_lgk,
                                pctl_k=self.pctl_k
                                ).withColumn("gen", F.lit(gen).cast("long"))

    def _append_locked(self, batch: DataFrame, gen: int) -> None:
        self._check_batch(batch)
        self._insert(self._partials_of(batch, gen))

    def compact(self) -> None:
        """Fold live partials to ONE row per column at gen ``cur_gen``
        (sealing everything below — batch identities are gone), purge
        tombstones. The store is columns-x-generations tiny, so this is
        a trivially cheap job; it exists so a years-running store's
        read merges a bounded frame."""
        with self.catalog.write_lock(self.table_name):
            self._reload_meta()
            # Pre-rewrite meta commit. The folded rows take a FRESH
            # generation so a tombstone pending at a crash (cuts
            # reference strictly older gens) re-applies to them as a
            # no-op. A crash between
            # this commit and the rewrite leaves: dead rows still
            # tombstone-filtered on reads, historical versions refused
            # (sealed) rather than reconstructed from rows the restarted
            # compact rewrites, and a gen gap instead of a collision.
            new_gen = self.cur_gen + 1
            self.cur_gen = new_gen
            self.sealed_below = new_gen + 1
            self.corrected = {}
            self._record_version("compact", add=[new_gen], seal=True)
            self._save_meta()
            rows = self._live(self.catalog.read_raw(self.table_name), "gen")
            self._write_table(
                merge_profile_partials(rows.drop("gen")).withColumn(
                    "gen", F.lit(new_gen).cast("long"))
            )
            clear_tombstones(self._tombstone_path())

    def read_asof(self, version: int,
                  pctls: Optional[List[float]] = None) -> DataFrame:
        """TIME TRAVEL: the whole-corpus profile exactly as ``read()``
        served it at store version ``version`` — a generation-set scan
        filter replayed from meta, zero extra jobs; versions below the
        last compact() are refused (the VACUUM rule)."""
        p = self._partials_asof(version, "profile store")
        if pctls and self.pctl_k is None:
            raise ValueError(
                "store carries no quantile sketches — rebuild with "
                "pctl_k to serve percentiles")
        return render_profile(
            merge_profile_partials(p.drop("gen")), self.kinds, pctls)

    def read(self, pctls: Optional[List[float]] = None) -> DataFrame:
        """The whole-corpus profile — same schema/reprs as
        :func:`profile` over the union of live batches, served from the
        columns-sized store (no corpus scan). ``pctls`` adds pNN
        quantile doubles (store must have been built with ``pctl_k``;
        same exactness-under-k contract as the one-shot profiler)."""
        if pctls and self.pctl_k is None:
            raise ValueError(
                "store carries no quantile sketches — rebuild with "
                "pctl_k to serve percentiles")
        return render_profile(
            merge_profile_partials(self.live_partials().drop("gen")),
            self.kinds, pctls=pctls,
        )

    def read_with(self, tail_batch: DataFrame,
                  pctls: Optional[List[float]] = None) -> DataFrame:
        """REAL-TIME profile (RollupStore.read_with's lambda shape):
        the merged profile over the persisted partials UNION a raw
        ``tail_batch`` that has NOT yet been ``update()``d — data
        quality checks see the in-flight batch without waiting for the
        append. The tail is profiled batch-sized with the same partials
        expression and unioned below the merge, so the result equals
        what ``read()`` would return after ``update(tail_batch)``.
        Caller contract (same as update): the tail is unseen data —
        passing an already-updated batch double-counts."""
        if pctls and self.pctl_k is None:
            raise ValueError(
                "store carries no quantile sketches — rebuild with "
                "pctl_k to serve percentiles")
        self._check_batch(tail_batch)
        tail = profile_partials(tail_batch, self.columns, self.ndv_lgk,
                                pctl_k=self.pctl_k)
        p = self.live_partials().drop("gen").unionByName(tail)
        return render_profile(merge_profile_partials(p), self.kinds,
                              pctls=pctls)
