"""Lexical search over the documents table: BM25 ranked retrieval and
TF-IDF keyword extraction. The lexical complement of the embedding ANN
family (operators/similarity.py) — a corpus engine needs both the
"find docs like this vector" and the "find docs for these words" paths.

All JVM-side built-in functions (no Python anywhere), following the
text.py conventions: whitespace tokens mirrored in oracle SQL as
string_split_regex(trim(text), '\\s+').

Scale shapes (the 100 TB design):

- ``bm25_topk`` is SCAN-SHAPED: the query's terms are a plan-time
  constant, the corpus statistics they need (N, total length, one
  document frequency per term) collapse into ONE row — a single bounded
  aggregate — which cross-broadcasts onto the corpus; per-doc scoring is
  then a pure projection over the doc's own token array (no explode, no
  doc-keyed exchange), and selection is orderBy+limit =
  TakeOrderedAndProject (per-partition heaps, driver merges k rows).
  Zero shuffles besides the bounded stats aggregate, at any corpus size.

- ``tfidf_keywords`` genuinely needs the corpus vocabulary (document
  frequency of EVERY term), which no broadcast can hold at 100 TB: it
  stays a token-keyed equi-join — explode to distinct (doc, token)
  pairs, one groupBy(token) for the df table, one join back keyed on
  token, one per-doc window for the top-n. Every exchange is
  key-partitioned; nothing is all-pairs and nothing lands on the driver.

Determinism across engines (the oracle gate hashes values): every
logarithm is rounded to 6 dp and cast to DECIMAL(18,6) BEFORE any sum —
the DSIR fixed-point convention (importance.py module docstring) — and
every ranking breaks ties on the id/token so top-k boundaries cannot
flip between Spark and DuckDB.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hindex_spark.operators.artifact import KeyedStore, clear_tombstones
from hindex_spark.operators.text import tokens

#: fixed-point scale shared with importance.py
_SCALE = 6
_DEC = f"decimal(18,{_SCALE})"


def query_terms(query: str) -> List[str]:
    """Deterministic term list of a query string: whitespace tokens,
    first-occurrence dedup (mirrors tokens() exactly)."""
    seen, out = set(), []
    for t in query.strip().split():
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def _bm25_term_score(
    tf: Column,
    dl: Column,
    df_t: Column,
    n: Column,
    avgdl: Column,
    k1: float,
    b: float,
) -> Column:
    """One term's BM25 contribution as an exact DECIMAL product —
    round(idf, 6) * round(tf-normalization, 6). Shared by the full-scan
    and the inverted-index paths so their expression trees (and hence
    every last double bit) are identical."""
    idf = F.round(
        F.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5)), _SCALE
    ).cast(_DEC)
    norm = F.round(
        tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)), _SCALE
    ).cast(_DEC)
    # the (18,6)x(18,6) product is decimal(37,12); one more ADD would
    # overflow Spark's 38-digit cap, which silently REDUCES THE SCALE
    # to 11 (allowPrecisionLoss) — the scan path's 3-term sum then
    # differs from the index path's SUM (which keeps scale 12) in the
    # 11th decimal. Values are tiny (|score term| < ~100), so pin the
    # exact value into (25,12) and every downstream add/sum stays exact
    # and identical across both paths and both engines.
    return (idf * norm).cast("decimal(25,12)")


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for ``query`` under BM25 (Robertson/Sparck
    Jones; the Lucene idf variant ln(1 + (N - df + 0.5)/(df + 0.5)), so
    idf is always positive):

        score(d) = sum over query terms t of
            idf(t) * tf(t,d)*(k1+1) / (tf(t,d) + k1*(1 - b + b*|d|/avgdl))

    Only docs matching at least one term (score > 0) are candidates;
    rank ties break on id. Output: (id, score) of the top k.

    Per the module docstring this is scan-shaped: ONE bounded stats row
    (N, sum of doc lengths, df per query term — at most len(query)
    columns) broadcasts onto the corpus and each doc scores itself from
    its own token array. idf and the per-term tf normalization are
    rounded to 6 dp and multiplied/summed as exact decimals so the
    ranking is engine-independent.
    """
    terms = query_terms(query)
    if not terms:
        raise ValueError("bm25_topk: query has no terms")
    docs = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    dl = F.size("__toks")
    # one bounded aggregate: corpus size, total length, df per term
    stats = docs.agg(
        F.count("*").alias("__n"),
        F.sum(dl).cast("double").alias("__sumdl"),
        *[
            F.sum(F.when(F.array_contains("__toks", t), 1).otherwise(0))
            .cast("double")
            .alias(f"__df{i}")
            for i, t in enumerate(terms)
        ],
    )
    scored = docs.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumdl") / F.col("__n")
    parts = []
    for i, t in enumerate(terms):
        # NB: the lambda must take exactly ONE arg — F.filter hands a
        # 2-arg callable (element, index), so a `t=t` default-capture
        # silently turns the term into the array index
        lit_t = F.lit(t)
        tf = F.size(F.filter("__toks", lambda x: x == lit_t)).cast("double")
        parts.append(
            _bm25_term_score(
                tf,
                dl.cast("double"),
                F.col(f"__df{i}"),
                F.col("__n"),
                avgdl,
                k1,
                b,
            ).alias(f"__s{i}")
        )
    # fold with a fixed-type running total: precision can never creep
    # up to the 38-digit cliff however many query terms there are
    total: Column = parts[0]
    for p_ in parts[1:]:
        total = (total + p_).cast("decimal(30,12)")
    return (
        scored.select(
            F.col(id_col), total.cast("double").alias("score")
        )
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def tfidf_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_n: int = 5,
) -> DataFrame:
    """Top-``top_n`` keywords per document by TF-IDF with the smoothed
    idf = ln((N+1)/(df+1)) + 1 (the sklearn convention — never
    negative, never divides by zero). score = tf * round(idf, 6) as an
    exact decimal, ties broken by token, so the per-doc cut is
    engine-independent. Output: (id, token, tf, score), top_n rows per
    doc.

    Shuffle inventory (see module docstring): explode -> one
    groupBy(id, token) for tf, one groupBy(token) for df, one
    token-keyed join, one id-keyed window. The df table is
    vocabulary-sized — kept as a key-partitioned join side, NOT a
    broadcast, because a 100 TB corpus's vocabulary is not
    driver-material."""
    toked = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    n_docs = toked.agg(F.count("*").alias("__n"))
    pairs = toked.select(
        F.col(id_col), F.explode("__toks").alias("token")
    )
    tf = pairs.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    # df comes from tf, which is already one row per (doc, token) — no
    # second explode/distinct pass over the corpus
    dfreq = (
        tf.groupBy("token")
        .agg(F.count("*").alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            F.round(
                F.log((F.col("__n") + 1.0) / (F.col("__df") + 1.0)) + 1.0,
                _SCALE,
            )
            .cast(_DEC)
            .alias("__idf"),
        )
    )
    scored = tf.join(dfreq, "token").select(
        F.col(id_col),
        "token",
        "tf",
        (F.col("tf").cast(_DEC) * F.col("__idf")).cast("double").alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# persisted inverted index — BM25 without the corpus scan
# ---------------------------------------------------------------------------


class SearchIndex(KeyedStore):
    """Persisted inverted index for BM25 retrieval — the secondary-index
    design of this engine (catalog-bucketed, query-key-local) applied to
    lexical search. ``bm25_topk`` scans every document for every query;
    at 100 TB a 3-term query must not read 100 TB. The index persists
    ONE postings table — (token, id, tf, dl, positions, gen), bucketed
    AND sorted on token — so a query reads only its terms' postings:
    bucket pruning keeps all other buckets unread (plan-asserted via
    SelectedBucketsCount) and the within-bucket token sort gives
    parquet row-group pruning on top.

    Result-identity with the full scan: per-term document frequency is
    exactly the fetched posting-list length, corpus size / total length
    persist in the meta, and the per-term decimal score is the SAME
    expression (``_bm25_term_score``) — a doc's grouped posting sum
    equals the scan's per-term column sum because absent terms
    contribute an exact decimal zero. Gated against the same oracle SQL
    as the scan path.

    The corpus stats follow every mutation: ``update``/``upsert`` add
    the batch's, ``upsert``/``delete`` first take out the replaced
    docs' live ones. Postings are appended before the meta commit, so
    a crash between the two leaves stats stale (scores slightly off,
    queries still correct in shape) — ``repair_stats()`` recomputes
    them exactly from the postings.

    Lifecycle::

        ix = SearchIndex.build(cat, docs, "doc_id", "text", "docs")
        hits = ix.topk("spark merge vector", k=25)
        ix.update(new_docs)            # postings append + stats bump
        ix = SearchIndex.open(cat, "docs")   # next session
    """

    kind = "postings"
    bucket_col = "token"

    def _meta(self) -> dict:
        return {**super()._meta(), "text_col": self.text_col,
                "n_docs": self.n_docs, "sum_dl": self.sum_dl}

    def _load_meta(self, m: dict) -> None:
        super()._load_meta(m)
        self.text_col = m["text_col"]
        self.n_docs = m["n_docs"]
        self.sum_dl = m["sum_dl"]

    @staticmethod
    def _posting_rows(docs: DataFrame, id_col: str, text_col: str,
                      gen: int = 0) -> DataFrame:
        """(token, id, tf, dl, positions, gen): one row per distinct
        (doc, token). dl is the doc's token count, constant per doc
        (max() only fixes the aggregate's shape); positions is the
        sorted 1-based occurrence list — what makes the index
        POSITIONAL, so phrase queries resolve from postings alone. BM25
        never reads the column (parquet column pruning keeps it off
        disk for ranked retrieval). ``gen`` is the writer generation
        (operators/artifact.py) — what upsert's tombstones cut
        against."""
        toked = docs.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col), tokens(F.col(text_col)).alias("__toks")
        )
        return (
            toked.select(
                F.col(id_col),
                F.size("__toks").alias("__dl"),
                F.posexplode("__toks").alias("__p0", "token"),
            )
            .groupBy("token", id_col)
            .agg(
                F.count("*").alias("tf"),
                F.max("__dl").alias("dl"),
                F.array_sort(F.collect_list(F.col("__p0") + 1)).alias(
                    "positions"
                ),
            )
            .withColumn("gen", F.lit(gen).cast("long"))
        )

    def _batch_stats(self, docs: DataFrame):
        """(doc count, total token count) of a batch — one bounded
        aggregate."""
        row = (
            docs.filter(F.col(self.text_col).isNotNull())
            .agg(
                F.count("*").alias("n"),
                F.sum(F.size(tokens(F.col(self.text_col))))
                .cast("double")
                .alias("sumdl"),
            )
            .collect()[0]
        )
        return int(row["n"]), float(row["sumdl"] or 0.0)

    @classmethod
    def build(cls, catalog, docs: DataFrame, id_col: str, text_col: str,
              name: str, num_buckets: int = 32) -> "SearchIndex":
        """One corpus pass: explode + one (token, id) aggregate, persist
        bucketed/sorted on token. Postings are ~tens of bytes per (doc,
        distinct token) — the artifact a 100 TB corpus amortizes over
        every query ever run against it."""
        ix = cls(catalog, name, {"id_col": id_col, "text_col": text_col,
                                 "n_docs": 0, "sum_dl": 0.0,
                                 "num_buckets": num_buckets, "cur_gen": 0})
        ix.n_docs, ix.sum_dl = ix._batch_stats(docs)
        ix._write_table(cls._posting_rows(docs, id_col, text_col))
        # a REBUILD under an existing name starts at gen 0 — tombstones
        # from the previous incarnation (below_gen >= 1) would silently
        # kill every fresh row
        clear_tombstones(ix._tombstone_path())
        ix._write_table(ix._doclen_rows(docs, 0), ix.doclen_table_name,
                        id_col)
        ix._save_meta()
        return ix

    @property
    def postings(self) -> DataFrame:
        """The LIVE postings: the stored table minus generations
        superseded by ``upsert``/``delete`` tombstones."""
        return self._live(self._raw())

    def repair_stats(self) -> None:
        """Recompute the persisted corpus stats FROM the postings table
        and rewrite the meta — closes the stale-stats window a crash
        between a postings append and its meta commit leaves. One
        bounded aggregate: dl is constant per doc, so (n, sumdl) come
        from the distinct (id, dl) pairs."""
        stats = (
            self.postings.select(F.col(self.id_col), "dl")
            .distinct()
            .agg(
                F.count("*").alias("n"),
                F.sum("dl").cast("double").alias("sumdl"),
            )
            .collect()[0]
        )
        self.n_docs = int(stats["n"])
        self.sum_dl = float(stats["sumdl"] or 0.0)
        self._save_meta()

    # -- doclen side table ----------------------------------------------------
    # One narrow row per LIVE doc version: (id, dl, gen), bucketed on
    # id. Exists so upsert's old-stats probe reads ~20 bytes/doc instead
    # of the postings' row-per-(doc, token). Shares the postings table's
    # tombstone set (generations are bumped identically), is appended
    # alongside every postings INSERT, and is REBUILT FROM the postings
    # at compact(), so a crash between the two INSERTs self-heals at the
    # next compaction.

    @property
    def doclen_table_name(self) -> str:
        return f"{self.name}_doclen_bucketed"

    def _doclen_rows(self, docs: DataFrame, gen: int) -> DataFrame:
        return docs.filter(F.col(self.text_col).isNotNull()).select(
            F.col(self.id_col),
            F.size(tokens(F.col(self.text_col))).alias("dl"),
            F.lit(gen).cast("long").alias("gen"),
        )

    def _has_doclen(self) -> bool:
        import os

        return os.path.isdir(os.path.join(
            self.catalog.root, self.doclen_table_name, "data"
        ))

    @property
    def doclens(self) -> DataFrame:
        """LIVE (id, dl, gen) rows — same tombstone cut as postings."""
        return self._live(self._raw(self.doclen_table_name, self.id_col))

    def _migrate_gen_locked(self) -> None:
        """One-time migration of a PRE-GENERATION store (written before
        upsert/delete existed): rewrite postings (and the doclen side
        table, if any) with gen=0 so every mutation path — positional
        INSERT INTO, tombstone cuts, compact's doclen rebuild — sees one
        consistent schema. No-op on current stores (one driver-side
        schema probe)."""
        raw = self.catalog.read_raw(self.table_name)
        if "gen" in raw.columns:
            return
        self._write_table(raw.withColumn("gen", F.lit(0).cast("long")))
        if self._has_doclen():
            dl = self.catalog.read_raw(self.doclen_table_name)
            if "gen" not in dl.columns:
                self._write_table(
                    dl.withColumn("gen", F.lit(0).cast("long")),
                    self.doclen_table_name, self.id_col,
                )

    def _append_batch(self, docs: DataFrame, gen: int) -> None:
        """Postings (and doclen rows, when the store has the side table)
        at ``gen``, plus the batch's corpus stats."""
        self._insert(self._posting_rows(docs, self.id_col, self.text_col,
                                        gen))
        if self._has_doclen():
            self._insert(self._doclen_rows(docs, gen),
                         self.doclen_table_name, self.id_col)
        n, sumdl = self._batch_stats(docs)
        self.n_docs += n
        self.sum_dl += sumdl

    def _forget_ids(self, ids: DataFrame) -> None:
        """Take the LIVE docs among ``ids`` out of the corpus stats —
        one bounded aggregate over their distinct (id, dl) pairs from
        the doclen side table (a pre-doclen store falls back to a
        column-pruned postings scan), restricted by the broadcast id
        set before the distinct."""
        source = self.doclens if self._has_doclen() else self.postings
        row = (
            source.join(F.broadcast(ids), self.id_col, "left_semi")
            .select(F.col(self.id_col), "dl")
            .distinct()
            .agg(
                F.count("*").alias("n"),
                F.sum("dl").cast("double").alias("sumdl"),
            )
            .collect()[0]
        )
        self.n_docs -= int(row["n"])
        self.sum_dl -= float(row["sumdl"] or 0.0)

    def _rebuild_sides(self, num_buckets: int) -> None:
        """doclen rebuilt FROM the just-written purged postings (dl is
        constant per (doc, gen)) — self-heals a crash between the
        postings and doclen INSERTs. Re-reads the NEW files: a lazy
        pre-rewrite frame points at data the swap already removed."""
        purged = self.catalog.read_raw(self.table_name)
        self._write_table(
            purged.select(F.col(self.id_col), "dl", "gen").distinct(),
            self.doclen_table_name, self.id_col, num_buckets,
        )

    # -- the query ----------------------------------------------------------

    def topk(
        self,
        query: str,
        k: int,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Top-``k`` (id, score) for ``query`` from postings only. Reads
        the query terms' buckets (bucket pruning + token-sorted row
        groups), derives df from the fetched posting lists, scores each
        posting with the shared decimal expression and sums per doc —
        one bounded groupBy over candidate docs, then
        TakeOrderedAndProject."""
        terms = query_terms(query)
        if not terms:
            raise ValueError("SearchIndex.topk: query has no terms")
        p = self.postings.filter(F.col("token").isin(terms))
        dfreqs = p.groupBy("token").agg(
            F.count("*").cast("double").alias("__df")
        )
        n = F.lit(float(self.n_docs))
        avgdl = F.lit(self.sum_dl) / F.lit(float(self.n_docs))
        scored = p.join(F.broadcast(dfreqs), "token").select(
            F.col(self.id_col),
            _bm25_term_score(
                F.col("tf").cast("double"),
                F.col("dl").cast("double"),
                F.col("__df"),
                n,
                avgdl,
                k1,
                b,
            ).alias("__s"),
        )
        return (
            scored.groupBy(self.id_col)
            .agg(F.sum("__s").cast("double").alias("score"))
            .filter(F.col("score") > 0)
            .orderBy(F.col("score").desc(), F.col(self.id_col))
            .limit(k)
        )

    def phrase_search(self, phrase: str) -> DataFrame:
        """Exact-phrase retrieval from the positional postings: (id,
        n_occurrences) for every doc containing the phrase's tokens
        CONSECUTIVELY, n_occurrences = number of start positions. No
        document text is read — the positional index resolves the
        phrase alone (the classic positional-inverted-index algorithm:
        intersect the terms' posting lists on doc, then check
        position adjacency).

        Scale shape: the postings filter reads only the phrase's
        tokens' buckets (bucket pruning); ONE id-keyed aggregation
        pivots the <= m distinct posting lists per candidate doc; the
        adjacency check is a per-doc array fold. Cost is proportional
        to the phrase terms' posting lists, never the corpus."""
        slots = phrase.strip().split()
        if not slots:
            raise ValueError("SearchIndex.phrase_search: empty phrase")
        uniq = query_terms(phrase)
        p = self.postings.filter(F.col("token").isin(uniq)).select(
            "token", F.col(self.id_col), "positions"
        )
        # pivot the distinct terms' posting lists onto one row per doc
        per_doc = p.groupBy(self.id_col).agg(
            *[
                F.max(
                    F.when(F.col("token") == t, F.col("positions"))
                ).alias(f"__pos{j}")
                for j, t in enumerate(uniq)
            ]
        )
        for j in range(len(uniq)):
            per_doc = per_doc.filter(F.col(f"__pos{j}").isNotNull())
        # a start is a position of slot 0 whose i-th successor appears
        # in slot i's posting list, for every later slot
        starts = F.col("__pos0")
        for i, tok in enumerate(slots[1:], start=1):
            j = uniq.index(tok)
            pos_j = F.col(f"__pos{j}")
            off = F.lit(i)
            starts = F.filter(
                starts, lambda s: F.array_contains(pos_j, s + off)
            )
        return (
            per_doc.select(
                F.col(self.id_col),
                F.size(starts).cast("long").alias("n_occurrences"),
            )
            .filter(F.col("n_occurrences") > 0)
            .orderBy(self.id_col)
        )

    def boolean_search(
        self,
        must: "tuple | list" = (),
        should: "tuple | list" = (),
        must_not: "tuple | list" = (),
    ) -> DataFrame:
        """Boolean retrieval from postings alone: docs containing ALL
        ``must`` terms, at least one ``should`` term (when any are
        given), and none of ``must_not``. Output: (id), ordered.

        Same scale shape as ``phrase_search``: ONE bucket-pruned
        postings fetch for every referenced term, one id-keyed pivot of
        term-presence flags, a pure-projection predicate. must_not is
        evaluated on the pivoted flags — docs matching ONLY negative
        terms never enter the aggregation, and docs matching nothing
        are correct to exclude because at least one positive term is
        required (enforced below: pure-negation needs the corpus, not
        an index)."""
        must, should, must_not = list(must), list(should), list(must_not)
        if not must and not should:
            raise ValueError(
                "boolean_search: need at least one must/should term "
                "(pure negation would require a corpus scan, not the index)"
            )
        terms = []
        for t in must + should + must_not:
            if t not in terms:
                terms.append(t)
        p = self.postings.filter(F.col("token").isin(terms)).select(
            "token", F.col(self.id_col)
        )
        per_doc = p.groupBy(self.id_col).agg(
            *[
                F.max(F.when(F.col("token") == t, True)).alias(f"__h{j}")
                for j, t in enumerate(terms)
            ]
        )
        cond = F.lit(True)
        for t in must:
            cond = cond & F.coalesce(F.col(f"__h{terms.index(t)}"), F.lit(False))
        if should:
            any_should = F.lit(False)
            for t in should:
                any_should = any_should | F.coalesce(
                    F.col(f"__h{terms.index(t)}"), F.lit(False)
                )
            cond = cond & any_should
        for t in must_not:
            cond = cond & ~F.coalesce(
                F.col(f"__h{terms.index(t)}"), F.lit(False)
            )
        return (
            per_doc.filter(cond)
            .select(self.id_col)
            .orderBy(self.id_col)
        )

    def tfidf_keywords(self, top_n: int = 5) -> DataFrame:
        """``tfidf_keywords`` served from the postings table — the
        explode + groupBy(id, token) pass the corpus-scan version pays
        is exactly what postings already persist, so per-run cost drops
        to one groupBy(token) for df + the token-keyed idf join + the
        per-doc window. Same smoothed-idf decimal math, same output
        schema (id, token, tf, score), result-identical (shared-oracle
        gate)."""
        tf = self.postings.select(F.col(self.id_col), "token", "tf")
        n = F.lit(float(self.n_docs))
        dfreq = (
            tf.groupBy("token")
            .agg(F.count("*").alias("__df"))
            .select(
                "token",
                F.round(
                    F.log((n + 1.0) / (F.col("__df") + 1.0)) + 1.0, _SCALE
                )
                .cast(_DEC)
                .alias("__idf"),
            )
        )
        scored = tf.join(dfreq, "token").select(
            F.col(self.id_col),
            "token",
            "tf",
            (F.col("tf").cast(_DEC) * F.col("__idf")).cast("double").alias(
                "score"
            ),
        )
        w = Window.partitionBy(self.id_col).orderBy(
            F.col("score").desc(), F.col("token")
        )
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= top_n)
            .drop("__rn")
        )
