"""DSIR-style data selection via importance resampling.

Public method (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", NeurIPS): featurize every document as a bag of
hashed n-grams (unigrams + bigrams hashed into ``n_buckets`` buckets),
fit two add-1-smoothed multinomial bucket distributions — the TARGET
corpus (the domain you want more of) and the RAW corpus (the crawl) —
and weight each raw document by

    log w(x) = sum over x's n-gram occurrences of
               [log p_target(bucket) - log p_raw(bucket)]

then keep the top-k raw docs by weight (the deterministic variant of the
paper's Gumbel-top-k resampling; rank ties break on doc id).

Scale shape (the reason this fits a 100 TB corpus):
- featurize = one narrow projection pass (tokens -> bigrams -> md5 mod
  B), no shuffle, full codegen — the array is never exploded until the
  aggregation that consumes it;
- the two distributions are hash aggregates whose RESULT is bounded by
  ``n_buckets`` (default 8192) regardless of corpus size — map-side
  combine collapses each partition to <= B rows before the exchange, and
  the fitted table broadcasts everywhere it is used;
- scoring is SCAN-SHAPED: the fitted table collapses to a single
  broadcast map row and each doc folds its own n-gram array — no
  explode, no doc-keyed exchange, zero shuffle (works unchanged on a
  streaming frame: the plan is a stateless projection);
- selection is ``orderBy(...).limit(k)`` = TakeOrderedAndProject (per-
  partition heaps + driver merge of k rows), never a global sort.

Determinism / oracle-exactness: each bucket's log-ratio is rounded to
6 dp and cast to DECIMAL(18,6) BEFORE the per-doc sum, so the sum is
exact integer arithmetic — independent of Spark's (and DuckDB's)
aggregation order. A double sum of hundreds of log terms would differ in
the last ulp between engines and could flip a top-k boundary; the
decimal sum cannot.

Bucket hashing reuses the corpus-wide convention (dedup.py:105): the
ANSI-reproducible ``int(md5[:15] hex)`` reduced mod ``n_buckets``.
Production corpora can swap in xxhash64 via ``hash_fn`` exactly as the
MinHash family does (token_hash_xx rationale, dedup.py:111).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hindex_spark.operators.artifact import meta_path, read_meta, write_meta
from hindex_spark.operators.dedup import _unit_hash
from hindex_spark.operators.text import tokens

#: default feature-space width; 8k buckets is the paper's hashed n-gram
#: regime scaled to fit a broadcast (8k rows ~ 100 KB serialized)
N_BUCKETS = 8192

#: fixed-point scale for the per-bucket log-ratio (see module docstring)
RATIO_SCALE = 6


def ngram_units(text: Column) -> Column:
    """Unigrams + bigrams of the whitespace tokenization, as one array —
    WITH repeats (DSIR weights occurrence counts, not the distinct set,
    so a doc that says "click here" 50 times is scored 50 times for it).
    Mirrored in oracle SQL as toks || bigram list_transform."""
    toks = tokens(text)
    # zip_with(toks, toks[1:]) instead of transform-over-sequence with
    # element_at: identical strings, ~13x faster (measured at sf0.1 —
    # the sequence materialization + per-element bounds-checked
    # element_at pair dominated the whole DSIR pass). zip_with pads the
    # shorter side with NULL, so the final (last-token, NULL) slot is
    # filtered out; 0/1-token docs produce the empty bigram list.
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(
            toks,
            shifted,
            lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)),
        ),
        lambda x: x.isNotNull(),
    )
    return F.concat(toks, bigrams)


def hashed_buckets(text: Column, n_buckets: int = N_BUCKETS, hash_fn: str = "md5") -> Column:
    """array<long> of feature-bucket ids for one document (repeats kept)."""
    return F.transform(ngram_units(text), lambda u: _unit_hash(hash_fn)(u) % n_buckets)


def bucket_counts(
    df: DataFrame,
    text_col: str,
    n_buckets: int = N_BUCKETS,
    hash_fn: str = "md5",
) -> DataFrame:
    """Fit one corpus's feature distribution: (bucket, cnt) with at most
    ``n_buckets`` result rows however large ``df`` is. This is the
    artifact a production pipeline fits ONCE per corpus and persists
    (the dedup-state pattern, state.py) — scoring jobs then only
    broadcast it."""
    return (
        df.select(
            F.explode(hashed_buckets(F.col(text_col), n_buckets, hash_fn)).alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def bucket_counts_pair(
    df: DataFrame,
    text_col: str,
    target: Column,
    n_buckets: int = N_BUCKETS,
    hash_fn: str = "md5",
) -> DataFrame:
    """Fit BOTH distributions in ONE corpus pass when the target is a
    predicate over the same frame (the ``dsir_select`` shape): one
    explode + one bounded hash aggregate yields (bucket, tc, rc) —
    rc counts every occurrence, tc only those from target docs. Halves
    the featurize cost of the two-``bucket_counts`` form, which scans
    (and re-tokenizes) the corpus twice. Result still <= n_buckets
    rows; raw is a superset of target by construction."""
    return (
        df.select(
            F.explode(hashed_buckets(F.col(text_col), n_buckets, hash_fn)).alias(
                "bucket"
            ),
            target.alias("__t"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("tc"),
            F.count("*").alias("rc"),
        )
    )


def log_ratio_table_from_pair(
    pair_counts: DataFrame,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """``log_ratio_table`` computed from a ``bucket_counts_pair`` fit:
    identical output values (raw ⊇ target, so the pair table already
    holds every bucket either corpus saw), no join at all — the totals
    are two broadcast scalars over a <= n_buckets-row frame."""
    tots = pair_counts.agg(
        F.sum("tc").cast("double").alias("t_tot"),
        F.sum("rc").cast("double").alias("r_tot"),
    )
    b = float(n_buckets)
    joined = pair_counts.crossJoin(F.broadcast(tots))
    r = F.log((F.col("tc") + 1.0) / (F.col("t_tot") + b)) - F.log(
        (F.col("rc") + 1.0) / (F.col("r_tot") + b)
    )
    return joined.select(
        "bucket",
        F.round(r, RATIO_SCALE).cast(f"decimal(18,{RATIO_SCALE})").alias("r"),
        F.round(
            F.log(1.0 / (F.col("t_tot") + b)) - F.log(1.0 / (F.col("r_tot") + b)),
            RATIO_SCALE,
        )
        .cast(f"decimal(18,{RATIO_SCALE})")
        .alias("r_default"),
    )


def log_ratio_table(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """(bucket, r): r = round(log p_target - log p_raw, 6) as
    DECIMAL(18,6), under add-1 smoothing over ``n_buckets`` buckets.
    Buckets absent from BOTH corpora are omitted — their ratio is the
    constant log((R+B)/(T+B)), which ``importance_weights`` supplies as
    the coalesce default, so the table never needs B rows for sparse
    fits. Both inputs are <= B rows; everything here is broadcast-sized.
    """
    t_tot = target_counts.agg(F.sum("cnt").cast("double").alias("t_tot"))
    r_tot = raw_counts.agg(F.sum("cnt").cast("double").alias("r_tot"))
    # union-of-keys + two broadcast left joins instead of a full-outer
    # join: Spark cannot build a broadcast hash table for FULL OUTER, so
    # the outer-join shape sort-merge-joins even two 8k-row fits; this
    # shape keeps every bounded-size join a broadcast
    keys = (
        target_counts.select("bucket").union(raw_counts.select("bucket")).distinct()
    )
    joined = (
        keys.join(F.broadcast(target_counts.withColumnRenamed("cnt", "tc")), "bucket", "left")
        .join(F.broadcast(raw_counts.withColumnRenamed("cnt", "rc")), "bucket", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
    )
    b = float(n_buckets)
    r = F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1.0) / (F.col("t_tot") + b)) - F.log(
        (F.coalesce(F.col("rc"), F.lit(0)) + 1.0) / (F.col("r_tot") + b)
    )
    return joined.select(
        "bucket",
        F.round(r, RATIO_SCALE).cast(f"decimal(18,{RATIO_SCALE})").alias("r"),
        F.round(
            F.log(1.0 / (F.col("t_tot") + b)) - F.log(1.0 / (F.col("r_tot") + b)),
            RATIO_SCALE,
        )
        .cast(f"decimal(18,{RATIO_SCALE})")
        .alias("r_default"),
    )


def _dense_micros(rows, n_buckets: int, val_key: str,
                  default_key: str):
    """Driver-side densified int64 array of 10^-RATIO_SCALE units from
    a collected fit table (bounded: <= n_buckets rows by construction —
    the fit is the broadcast-sized artifact). Absent buckets take the
    default value; an empty fit densifies to zeros — exactly the
    coalesce(map[i], default, 0) ladder the broadcast-row shape
    applied."""
    import numpy as np  # noqa: PLC0415

    scale = 10 ** RATIO_SCALE
    rd = None
    for r in rows:
        if r[default_key] is not None:
            rd = r[default_key] if rd is None else max(rd, r[default_key])
    arr = np.full(n_buckets, int(rd * scale) if rd is not None else 0,
                  dtype=np.int64)
    for r in rows:
        if r[val_key] is not None:
            arr[int(r["bucket"])] = int(r[val_key] * scale)
    return arr


def _gather_micros_udf(arr):
    """Vectorized Arrow scoring kernel: per doc, sum of ``arr`` at the
    doc's bucket ids, in exact int64 micros (identical arithmetic to
    the JVM long fold it replaces — int64 addition both sides). The
    per-gram ``aggregate`` lambda this supersedes ran INTERPRETED per
    element (guide §4.2: no native gather-sum expression exists, so a
    vectorized numpy take+sum over Arrow batches is the sanctioned
    escape); measured 4.7x on the sf0.1 score stage with hash-equal
    outputs. Buckets are non-negative by construction
    (``_unit_hash() % n_buckets`` of non-negative 31-bit hashes)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def gather(bks):
        out = np.zeros(len(bks), dtype=np.int64)
        for i, b in enumerate(bks):
            if b is not None and len(b):
                out[i] = arr[np.asarray(b, dtype=np.int64)].sum()
        return pd.Series(out)

    # real type objects, not strings: this module runs under
    # ``from __future__ import annotations``, which would stringify
    # inline hints and break pandas_udf's signature inference
    gather.__annotations__ = {"bks": pd.Series, "return": pd.Series}
    return F.pandas_udf(gather, "long")


def importance_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ratios: DataFrame,
    n_buckets: int = N_BUCKETS,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, weight): per-doc DSIR log importance weight. ``ratios`` is a
    ``log_ratio_table`` output (<= n_buckets rows).

    Scoring is SCAN-SHAPED: the bounded ratio table is collected once
    (<= B rows), densified driver-side, and each doc's weight is a
    vectorized Arrow gather-sum over its own n-gram array — no explode,
    no doc-keyed exchange, zero shuffle. (The explode + broadcast-join
    + groupBy(id) shape the oracle SQL uses computes the identical
    exact sum — both are order-independent — but pays a corpus-wide
    exchange keyed on doc id that this shape simply does not have.)
    Docs with no tokens / NULL text score 0. ``weight`` = exact decimal
    sum cast to double."""
    return with_importance_weight(
        df, text_col, ratios, n_buckets=n_buckets, hash_fn=hash_fn
    ).select(F.col(id_col), F.col("weight"))


def with_importance_weight(
    df: DataFrame,
    text_col: str,
    ratios: DataFrame,
    weight_col: str = "weight",
    n_buckets: int = N_BUCKETS,
    hash_fn: str = "md5",
    buckets: Optional[Column] = None,
) -> DataFrame:
    """``df`` with a ``weight_col`` double column appended — the
    composition form of ``importance_weights`` (all original columns
    survive, so a pipeline can filter/score mid-chain without a
    corpus-wide join back on id). Same scan-shaped fold.

    ``buckets``: optional PRECOMPUTED bucket-array column (the
    ``hashed_buckets`` output) to fold over instead of re-deriving it
    from ``text_col`` — the fit/score sharing hook ``dsir_select`` uses
    so the tokenize + hash featurization runs once, not once per
    consumer (guide §2.4); ``text_col`` is ignored when given."""
    # The bounded fit is collected ONCE driver-side (<= n_buckets rows
    # — the broadcast-sized artifact by construction) and densified to
    # an int64 array of 10^-RATIO_SCALE units ("micros"): r is
    # DECIMAL(18,6), so r * 10^6 is an exact integer. Scoring is then a
    # vectorized Arrow kernel — per doc, numpy take+sum of the array at
    # the doc's bucket ids, exact int64 addition — replacing the JVM
    # ``aggregate`` fold whose lambda ran INTERPRETED per gram (guide
    # §4.2; measured 4.7x on the sf0.1 score stage, hash-identical
    # weights asserted). The exact decimal value is recovered ONCE per
    # doc by an exact decimal division before the final double cast —
    # bit-identical weights by construction. int64 overflow needs
    # |sum| >= 2^63 micros ~ 9.2e12 in ratio units, far beyond any doc
    # (the old DECIMAL(18,6) accumulator overflowed at 1e12 first).
    # FAILURE-MODE note: the decimal accumulator overflowed to NULL
    # (weight coalesced to 0.0, visible); an int64 accumulator WRAPS
    # silently instead (numpy and Java long alike). Reaching it needs a
    # doc whose n_grams x max|r| exceeds 9.2e12 ratio-units (e.g. 10^12
    # grams at |r| <= 9) — revisit with a per-doc cap if doc sizes or
    # ratio magnitudes could ever approach that.
    #
    # The plan stays scan-shaped — scan -> ArrowEvalPython -> project,
    # zero shuffles, streaming-safe (a stateless projection); the fit
    # collect is the one bounded action, paid when the frame is BUILT,
    # which also pins the weights against a fit that could otherwise be
    # recomputed differently per consumer.
    arr = _dense_micros(
        ratios.select("bucket", "r", "r_default").collect(),
        n_buckets, "r", "r_default",
    )
    if buckets is None:
        buckets = hashed_buckets(F.col(text_col), n_buckets, hash_fn)
    micros = _gather_micros_udf(arr)(buckets)
    weight = (
        micros.cast("decimal(26,0)") / F.lit(10 ** RATIO_SCALE)
    ).cast("double")
    return df.withColumn(weight_col, F.coalesce(weight, F.lit(0.0)))


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    k: int,
    n_buckets: int = N_BUCKETS,
    hash_fn: str = "md5",
    weights: Optional[DataFrame] = None,
) -> DataFrame:
    """End-to-end DSIR selection: fit target (= ``df`` where ``target``)
    vs raw (= all of ``df``) distributions, weight every doc, keep the
    top ``k`` by (weight desc, id asc). Returns (id, weight) of the
    selected docs. Pass ``weights`` to skip the fit+score (e.g. scored
    once, selected at several k)."""
    if weights is None:
        # One corpus pass fits BOTH distributions (target is a predicate
        # over df, so raw ⊇ target) — and the featurization (tokenize ->
        # bigrams -> hash) is SHARED between the fit and the scoring
        # fold via a persisted (id, bucket-array, target) frame: without
        # it the fit action and the score action each re-tokenized and
        # re-hashed the whole corpus (two full text passes; guide §2.4).
        # The cache is batch-narrow (8-byte bucket ids, no text),
        # spills instead of OOMing, and is adopted by the dedup-family
        # cache rotation so repeated calls don't accumulate residue. At
        # 100 TB the durable form of this frame is a persisted feature
        # table (the DedupState pattern); this is its single-job twin.
        from pyspark import StorageLevel  # noqa: PLC0415

        from hindex_spark.operators.dedup import _register_aux_cache

        feat = df.select(
            F.col(id_col),
            hashed_buckets(F.col(text_col), n_buckets, hash_fn).alias("__bk"),
            target.alias("__t"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        _register_aux_cache(feat)
        pair = (
            feat.select(F.explode("__bk").alias("bucket"), "__t")
            .groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("tc"),
                F.count("*").alias("rc"),
            )
        )
        ratios = log_ratio_table_from_pair(pair, n_buckets)
        weights = with_importance_weight(
            feat, text_col, ratios, n_buckets=n_buckets, hash_fn=hash_fn,
            buckets=F.col("__bk"),
        ).select(F.col(id_col), F.col("weight"))
    # orderBy + limit = TakeOrderedAndProject: per-partition top-k heaps,
    # driver merges k rows — no global sort at any corpus size
    return weights.orderBy(F.col("weight").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# CCNet-style LM quality filter (perplexity under a target n-gram LM)
# ---------------------------------------------------------------------------


def lm_cross_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_counts: DataFrame,
    n_buckets: int = N_BUCKETS,
    hash_fn: str = "md5",
) -> DataFrame:
    """CCNet-style LM quality signal (Wenzek et al. 2020 filter corpora
    by perplexity under a LM trained on clean text): per-doc
    cross-entropy under the hashed-n-gram unigram LM fitted by
    ``bucket_counts`` on the TARGET corpus —

        H(x) = -(1/n) * sum over x's n-gram occurrences of
               log p_target(bucket)         (add-1 smoothing over B)

    Lower = more target-like; threshold or head/middle/tail-split on it
    exactly as CCNet does. Same scan shape as ``importance_weights``
    (fitted log-probs collapse to a broadcast map; per-doc decimal fold
    over the doc's own n-gram array — zero shuffle in the scoring pass),
    same decimal fixed-point trick so the mean is deterministic.
    Output: (id, h), h rounded to 6 dp.
    """
    tot = target_counts.agg(F.sum("cnt").cast("double").alias("t_tot"))
    b = float(n_buckets)
    lp = target_counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(F.log((F.col("cnt") + 1.0) / (F.col("t_tot") + b)), RATIO_SCALE)
        .cast(f"decimal(18,{RATIO_SCALE})")
        .alias("lp"),
        F.round(F.log(1.0 / (F.col("t_tot") + b)), RATIO_SCALE)
        .cast(f"decimal(18,{RATIO_SCALE})")
        .alias("lp_default"),
    )
    # dense int64 micro array + vectorized Arrow gather kernel + one
    # exact decimal division per doc — same bit-identical-by-
    # construction shape (and the same 4.7x-measured kernel) as
    # with_importance_weight. The bucket array is STAGED as a real
    # column so the featurization feeds both the kernel and the gram
    # count once — as an inline expression it would be evaluated
    # separately on each side of the Python boundary.
    arr = _dense_micros(
        lp.select("bucket", "lp", "lp_default").collect(),
        n_buckets, "lp", "lp_default",
    )
    staged = df.withColumn(
        "__bk", hashed_buckets(F.col(text_col), n_buckets, hash_fn)
    )
    s_micro = _gather_micros_udf(arr)(F.col("__bk"))
    s = (
        s_micro.cast("decimal(26,0)") / F.lit(10 ** RATIO_SCALE)
    ).cast("double")
    n = F.size(F.col("__bk"))
    return staged.select(
        F.col(id_col),
        F.round(
            F.when(n > 0, -s / n).otherwise(0.0), 6
        ).alias("h"),
    )


def perplexity_partition(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_counts: DataFrame,
    n_buckets: int = N_BUCKETS,
    hash_fn: str = "md5",
) -> DataFrame:
    """CCNet's head/middle/tail split: rank docs by LM cross-entropy and
    label the best third 'head', middle third 'middle', worst 'tail'
    (ties broken by id; thresholds = exact tertile ranks). One extra
    shuffle over the (id, h) frame — corpus-width, 2 narrow columns.
    ``ntile`` would serialize the whole corpus through one partition;
    rank-vs-count arithmetic keeps the sort distributed."""
    from pyspark.sql import Window

    h = lm_cross_entropy(df, id_col, text_col, target_counts, n_buckets, hash_fn)
    # Exact global rank WITHOUT a single-partition window (the naive
    # Window.orderBy(h, id) serializes the corpus through one task):
    # range-partition by the sort key, then rank = per-partition
    # row_number + the cumulative count of all earlier partitions. The
    # only driver action is the per-partition count vector — bounded by
    # the partition count, not the corpus.
    part = h.repartitionByRange(F.col("h"), F.col(id_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    part = part.localCheckpoint(eager=False)  # pin pids: count + rank must agree
    sizes = {r["__pid"]: r["c"] for r in part.groupBy("__pid").count().withColumnRenamed("count", "c").collect()}
    n = sum(sizes.values())
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off_df = part.sparkSession.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "__pid int, __off long"
    )
    k1, k2 = (n + 2) // 3, (2 * n + 2) // 3  # ceil(n/3), ceil(2n/3)
    w = Window.partitionBy("__pid").orderBy(F.col("h"), F.col(id_col))
    ranked = part.join(F.broadcast(off_df), "__pid").withColumn(
        "__rn", F.row_number().over(w) + F.col("__off")
    )
    return ranked.select(
        id_col,
        "h",
        F.when(F.col("__rn") <= k1, F.lit("head"))
        .when(F.col("__rn") <= k2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket3"),
    )


# ---------------------------------------------------------------------------
# persisted fit — score batches/streams without refitting
# ---------------------------------------------------------------------------


class ImportanceModel:
    """Persisted DSIR/LM fit — the DedupState pattern
    (operators/dedup_state.py) applied to importance sampling: fit the
    target/raw bucket distributions ONCE, persist the merged counts as a
    tiny catalog artifact (<= n_buckets rows — a few hundred KB at any
    corpus size), and score any later batch or stream from the stored
    fit. Per-batch cost with the model: zero corpus scans, zero
    shuffles — scoring is the scan-shaped fold of
    ``with_importance_weight``.

    Lifecycle::

        m = ImportanceModel.fit(cat, "docs_en", target=en_docs,
                                raw=all_docs, text_col="text")
        scored = m.weight(batch_df)            # batch, or
        scored = m.weight(stream_df)           # readStream: the scoring
                                               # plan is a stateless
                                               # projection + broadcast
        ...
        m = ImportanceModel.open(cat, "docs_en")   # next day
    """

    kind = "importance"

    def __init__(self, catalog, name: str, text_col: str,
                 n_buckets: int = N_BUCKETS, hash_fn: str = "md5"):
        self.catalog = catalog
        self.name = name
        self.text_col = text_col
        self.n_buckets = n_buckets
        self.hash_fn = hash_fn

    def _data_path(self) -> str:
        import os

        return os.path.join(self.catalog.root, f"{self.name}_importance_fit")

    def _meta_path(self) -> str:
        return meta_path(self.catalog.root, self.name, self.kind)

    @classmethod
    def fit(cls, catalog, name: str, target: DataFrame, raw: DataFrame,
            text_col: str, n_buckets: int = N_BUCKETS,
            hash_fn: str = "md5") -> "ImportanceModel":
        """Two bounded hash aggregates over the corpora, merged on the
        union of bucket keys into (bucket, tc, rc) and written as one
        parquet artifact. The fit's identity knobs (n_buckets, hash_fn,
        text_col) persist in the meta — stored counts are only
        comparable under the same featurization."""
        m = cls(catalog, name, text_col, n_buckets, hash_fn)
        t = bucket_counts(target, text_col, n_buckets, hash_fn)
        r = bucket_counts(raw, text_col, n_buckets, hash_fn)
        merged = (
            t.select("bucket").union(r.select("bucket")).distinct()
            .join(F.broadcast(t.withColumnRenamed("cnt", "tc")), "bucket", "left")
            .join(F.broadcast(r.withColumnRenamed("cnt", "rc")), "bucket", "left")
            .select(
                "bucket",
                F.coalesce("tc", F.lit(0)).alias("tc"),
                F.coalesce("rc", F.lit(0)).alias("rc"),
            )
        )
        merged.coalesce(1).write.mode("overwrite").parquet(m._data_path())
        write_meta(m._meta_path(), {"text_col": text_col,
                                    "n_buckets": n_buckets,
                                    "hash_fn": hash_fn})
        return m

    @classmethod
    def open(cls, catalog, name: str) -> "ImportanceModel":
        meta = read_meta(meta_path(catalog.root, name, cls.kind))
        return cls(catalog, name, meta["text_col"], meta["n_buckets"],
                   meta["hash_fn"])

    def counts(self) -> DataFrame:
        return self.catalog.spark.read.parquet(self._data_path())

    def ratios(self) -> DataFrame:
        c = self.counts()
        return log_ratio_table(
            c.filter(F.col("tc") > 0).select("bucket", F.col("tc").alias("cnt")),
            c.filter(F.col("rc") > 0).select("bucket", F.col("rc").alias("cnt")),
            self.n_buckets,
        )

    def weight(self, df: DataFrame, weight_col: str = "weight") -> DataFrame:
        """``df`` + DSIR weight column from the stored fit. Works on
        batch AND streaming frames — the plan is a stateless projection
        over a broadcast 1-row map."""
        return with_importance_weight(
            df, self.text_col, self.ratios(), weight_col,
            self.n_buckets, self.hash_fn,
        )

    def cross_entropy(self, df: DataFrame, id_col: str) -> DataFrame:
        """(id, h) under the stored TARGET fit (CCNet filter form)."""
        c = self.counts()
        return lm_cross_entropy(
            df, id_col, self.text_col,
            c.filter(F.col("tc") > 0).select("bucket", F.col("tc").alias("cnt")),
            self.n_buckets, self.hash_fn,
        )
