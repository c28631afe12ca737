"""The benchmark's workloads, run in a child process of ``run.py``.

One client, closed loop: every operation waits for its result before the
next one is sent, like a PerformanceEvaluation client thread. Each
workload repeats a fixed *cycle* of operations until ``--seconds`` have
passed (a cycle starts only while time is left, and runs to its end).
Every result is checked against a model kept outside the engine; a
wrong or failed result counts as a failed operation.

The engine is driven only through its public API. The traced run
(``--trace 1``) wraps that API from here (tracing.py) and traces every
second operation of each kind, so traced and untraced operations of the
same run give the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import math
import os
import re
import statistics
import sys
import time
from collections import Counter

import numpy as np

from datagen import Zipf, generate, rows_for
from tracing import SparkStats, Tracer, jvm_gc_ms

SETUP_REPS = 3
TAIL_BEYOND = 10
T0 = time.perf_counter()


def note(msg):
    """A progress line on stderr, with the seconds since start."""
    print(f"perfbench: {time.perf_counter() - T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def tail(samples):
    """(value, percentile): the highest percentile that still has at
    least TAIL_BEYOND samples above it; the maximum when there are too
    few samples for that."""
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def proc_status_mb(pid, field):
    """A memory field (VmRSS, VmHWM) of /proc/<pid>/status, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def session_cpu_s():
    """User + system CPU seconds of every process in this process's
    session (run.py starts it as a session leader): the driver Python,
    its JVM and the JVM's Python workers, including reaped children."""
    sid = os.getsid(0)
    ticks = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2:].split()  # from field 3, state
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid):
    """CPU seconds of the JVM's JIT compiler threads (run.py keeps them
    alive for the whole run, so none of their time leaves with a thread)."""
    ticks = 0
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            fields = stat[stat.rindex(")") + 2:].split()
            ticks += int(fields[11]) + int(fields[12])  # utime stime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_ticks():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def retained_mb(spark):
    """Memory the driver keeps after its work: JVM heap in use after a
    full collection (cached tables, plans, metadata) plus the Python
    process's resident set. Unlike the peak resident set, which follows
    the collector's heap sizing, this repeats from run to run. Spark's
    ContextCleaner frees broadcast blocks only after a collection has
    found them unreachable, so the heap is read after a second
    collection that follows the cleaner's work; the least of three."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
    return min(used) + proc_status_mb("self", "VmRSS")


class Ctx:
    """What every workload shares: the session factory, the run's
    scratch dir and the operation recorder."""

    def __init__(self, args, tracer):
        from hindex_spark import session

        self.args = args
        self.tracer = tracer
        self.session = session
        self.tmp = os.environ["PERFBENCH_TMP"]
        self.data_dir = os.path.join(self.tmp, "inputs")
        os.makedirs(self.data_dir, exist_ok=True)
        self.rng = np.random.default_rng([args.seed, 99])
        # catalog buckets: two per core, so a full scan is two task waves
        self.buckets = 2 * int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
        self.ops = []  # (cls, seconds, ok, traced, op_id)
        self.warming = False  # warm-up ops run unchecked and untimed
        self.aside_cpu = 0.0  # CPU of the benchmark's own checks and oracles
        self.kinds = Counter()
        self.stats = None
        self.op_stats = {}
        self.result_rows = {}

    def spark(self):
        return self.session.get_spark("perfbench")

    @contextlib.contextmanager
    def aside(self):
        """Benchmark-side work inside the measuring window (checks,
        oracles, making batches): its CPU is kept out of cycle_cpu_s."""
        c0 = time.process_time()
        try:
            yield
        finally:
            self.aside_cpu += time.process_time() - c0

    def path(self, name):
        return os.path.join(self.data_dir, f"{name}.parquet")

    def op(self, cls, fn, check):
        """Time ``fn()`` as one operation; ``check(result)`` runs after
        the clock stops and returns None when the output is right, else
        a message."""
        if self.warming:
            try:
                return fn()
            except Exception:  # noqa: BLE001 - the timed run meets it again
                return None
        op_id = len(self.ops)
        traced = bool(self.args.trace) and self.kinds[cls] % 2 == 1
        self.kinds[cls] += 1
        if traced:
            self.tracer.enabled = True
            self.tracer.op_id = op_id
            self.stats.begin(op_id)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(cls):
                out = fn()
            dt = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            dt = time.perf_counter() - t0
            out, msg = None, f"{cls}: {type(exc).__name__}: {str(exc)[:300]}"
        else:
            self.tracer.enabled = False
            try:
                with self.aside():
                    msg = check(out)
            except Exception as exc:  # noqa: BLE001 - a broken output
                msg = f"{cls}: check raised {type(exc).__name__}: {exc}"
        finally:
            self.tracer.enabled = False
            if traced:
                self.stats.end()
                self.tracer.op_id = None
        if traced:
            self.op_stats[op_id] = None  # filled by flush_stats
            self.result_rows[op_id] = len(out) if isinstance(out, list) else 1
        self.ops.append((cls, dt, msg is None, traced, op_id))
        if msg is not None:
            print(f"check failed: {msg}", file=sys.stderr, flush=True)
        return out

    def flush_stats(self):
        """Read Spark's job/stage records of the traced ops (outside any
        timed region)."""
        for op_id, st in self.op_stats.items():
            if st is None:
                self.op_stats[op_id] = self.stats.collect(op_id)


class OrdersModel:
    """The shadow copy of ``orders``: column arrays indexed by rowkey
    (keys are dense, 0..n-1 then appended), updated with the
    benchmark's own writes."""

    def __init__(self, cols):
        self.cust = cols["o_custkey"].copy()
        self.status = cols["o_orderstatus"].astype(object)
        self.price = cols["o_totalprice"].copy()
        self.live = np.ones(len(self.cust), dtype=bool)

    def __len__(self):
        return len(self.cust)

    def apply(self, keys, custs, prices, n_new, dels):
        self.cust = np.concatenate([self.cust, np.zeros(n_new, dtype=np.int64)])
        self.price = np.concatenate([self.price, np.zeros(n_new)])
        self.status = np.concatenate([self.status, np.full(n_new, "O", dtype=object)])
        self.live = np.concatenate([self.live, np.ones(n_new, dtype=bool)])
        self.cust[keys] = custs
        self.price[keys] = prices
        self.live[dels] = False


# --------------------------------------------------------------------------
# pe_serving


class Serving:
    """The PE read mix on an indexed, Spark-cached ``orders`` table."""

    name = "pe_serving"
    tables = ("orders",)
    # one cycle = ten requests in the mix's exact ratio, shuffled
    MIX = ["get"] * 5 + ["scan"] * 2 + ["index_scan"] * 2 + ["filter"]
    RANGES = (10, 100, 1000)
    REPORT = ("get", "scan", "index_scan", "filter")
    WARMUP_CYCLES = 6

    def __init__(self, ctx, data):
        self.ctx = ctx
        self.m = OrdersModel(data["orders"])
        self.n = len(self.m)
        self.n_cust = rows_for(ctx.args.sf)["customers"]
        self.keys = Zipf(ctx.rng, self.n)
        self.custs = Zipf(ctx.rng, self.n_cust)
        self.turn = Counter()
        self.t = None

    def build(self, cat, spark):
        from hindex_spark.index.spec import IndexSpecification
        from hindex_spark.table import Table

        t = Table(spark.read.parquet(self.ctx.path("orders")), "o_orderkey", "orders")
        t.create_index(IndexSpecification("idx_cust").add_column("o_custkey", "Long"))
        t.create_index(
            IndexSpecification("idx_status_price")
            .add_column("o_orderstatus", "String")
            .add_column("o_totalprice", "Double")
        )
        cat.save(t, num_partitions=self.ctx.buckets)
        return cat.load("orders")

    def setup(self, rep):
        from hindex_spark.catalog import Catalog

        spark = self.ctx.spark()
        self.cat = Catalog(spark, os.path.join(self.ctx.tmp, f"serving{rep}"))
        t = self.build(self.cat, spark)
        t.cache()
        t.df.count()
        for v in t.index_tables.values():
            v.count()
        self.t = t

    def teardown(self):
        self.t.df.unpersist()
        for v in self.t.index_tables.values():
            v.unpersist()

    # -- request kinds ----------------------------------------------------

    def get(self, k):
        m = self.m

        def check(rows):
            if not m.live[k]:
                return None if not rows else f"get {k}: deleted row still visible"
            if len(rows) != 1:
                return f"get {k}: {len(rows)} rows"
            r = rows[0]
            if (r.o_custkey, r.o_orderstatus, r.o_totalprice) != (m.cust[k], m.status[k], m.price[k]):
                return f"get {k}: stale or wrong row {r}"
            return None

        return self.ctx.op("get", lambda: self.t.get(k).collect(), check)

    def scan(self):
        from hindex_spark.table import Scan

        size = self.RANGES[self.turn["scan"] % len(self.RANGES)]
        self.turn["scan"] += 1
        s = min(int(self.keys.draw(1)[0]), self.n - size)

        def check(rows):
            keys = sorted(r.o_orderkey for r in rows)
            if keys != list(range(s, s + size)):
                return f"scan [{s},{s + size}): got {len(keys)} rows"
            if not close(sum(r.o_totalprice for r in rows), self.m.price[s:s + size].sum()):
                return f"scan [{s},{s + size}): wrong values"
            return None

        return self.ctx.op(
            f"scan:{size}", lambda: self.t.scan(Scan(start_row=s, stop_row=s + size)).collect(),
            check,
        )

    def filtered(self, cls, dsl, mask):
        """A filter written in the parse_filter DSL, planned by the index
        planner; the rows must equal the model's ``mask``."""
        from hindex_spark.table import Scan

        pf = importlib.import_module("hindex_spark.parse_filter")
        with self.ctx.aside():
            want = np.flatnonzero(mask & self.m.live).tolist()

        def check(rows):
            got = sorted(r.o_orderkey for r in rows)
            return None if got == want else f"{cls} {dsl!r}: {len(got)} rows, want {len(want)}"

        return self.ctx.op(
            cls, lambda: self.t.scan(Scan(filter=pf.parse_filter(dsl))).collect(), check
        )

    def index_scan(self, c=None):
        c = int(self.custs.draw(1)[0]) if c is None else c
        dsl = f"SingleColumnValueFilter('o_custkey', =, 'binary:{c}', true)"
        with self.ctx.aside():
            mask = self.m.cust == c
        return self.filtered("index_scan", dsl, mask)

    def filter(self):
        """AND / OR / composite-range filters spanning both indexes."""
        m = self.m
        c1, c2 = (int(x) for x in self.custs.draw(2))
        lo = float(np.round(self.ctx.rng.uniform(900.0, 480_000.0), 2))
        hi = lo + 20_000.0
        eq = "SingleColumnValueFilter('o_custkey', =, 'binary:{}', true)"
        st = "SingleColumnValueFilter('o_orderstatus', =, 'binary:{}', true)"
        ge = f"SingleColumnValueFilter('o_totalprice', >=, 'binary:{lo}', true)"
        lt = f"SingleColumnValueFilter('o_totalprice', <, 'binary:{hi}', true)"
        shape = self.turn["filter"] % 3
        self.turn["filter"] += 1
        with self.ctx.aside():
            if shape == 0:
                kind, dsl = "filter:and", f"{eq.format(c1)} AND {st.format('F')}"
                mask = (m.cust == c1) & (m.status == "F")
            elif shape == 1:
                kind, dsl = "filter:or", f"{eq.format(c1)} OR {eq.format(c2)}"
                mask = (m.cust == c1) | (m.cust == c2)
            else:
                kind, dsl = "filter:range", f"{eq.format(c1)} OR ({st.format('P')} AND {ge} AND {lt})"
                mask = (m.cust == c1) | ((m.status == "P") & (m.price >= lo) & (m.price < hi))
        return self.filtered(kind, dsl, mask)

    def cycle(self, i):
        order = list(self.MIX)
        self.ctx.rng.shuffle(order)
        for kind in order:
            if kind == "get":
                self.get(int(self.keys.draw(1)[0]))
            else:
                getattr(self, kind)()

    def warmup(self):
        """WARMUP_CYCLES untimed cycles: request latency falls by half over
        the first ~50 cycles of a fresh JVM (JIT compilation of the
        planning path). A count of cycles, not a time, so that a host that
        gives the run less CPU does not start measuring on a colder JIT."""
        for _ in range(self.WARMUP_CYCLES):
            self.cycle(0)

    def prepare(self):
        """Untimed work after set-up that the checks need."""

    def stored_bytes_per_row(self):
        """Catalog bytes of ``orders`` (data, indexes, every version on
        disk) over its live rows."""
        return dir_bytes(os.path.join(self.cat.root, "orders")) / max(int(self.m.live.sum()), 1)

    def stored(self):
        return {"stored_bytes_per_row": self.stored_bytes_per_row()}

    def report(self, ops):
        return latency_report(ops, self.REPORT)


# --------------------------------------------------------------------------
# ingest_pipeline


class IngestPipeline(Serving):
    """Durable indexed writes on the uncached ``orders`` table, each
    commit followed by reads of its own writes, then the batch jobs that
    run downstream of ingest: scan analytics over ``lineitem`` joined
    with the fresh ``orders``, and the corpus pipeline (dedup, text
    analysis, persisted BM25 top-k) over ``documents``."""

    name = "ingest_pipeline"
    tables = ("orders", "lineitem", "documents")
    BATCH = 1000
    UPDATES = 900
    DELETES = 100
    DELETE_EVERY = 4
    TOPK = 25
    AGGS = ("agg_sum", "agg_avg", "agg_std", "agg_median")
    REPORT = ("get", "index_scan", "put", "scan", "filter_scan", "agg_sum", "agg_avg",
              "agg_std", "agg_median", "row_count", "q1", "row_counter", "dedup",
              "analyze", "search")

    def __init__(self, ctx, data):
        import duckdb

        super().__init__(ctx, data)
        rng = ctx.rng
        self.rows_written = 0
        self.user_bytes = 0
        self.bytes_written = 0
        self.n_li = len(data["lineitem"]["l_orderkey"])
        self.n_docs = len(data["documents"]["doc_id"])
        # a fixed share of the keys at a seeded offset: every seed
        # aggregates the same amount of data
        width = max(self.n * 2 // 5, 1)
        start = int(rng.integers(0, self.n - width + 1))
        self.li_range = (start, start + width)
        vocab = sorted({w for t in data["documents"]["text"][:200] for w in t.split()})
        self.queries = [" ".join(rng.choice(vocab, 3, replace=False)) for _ in range(2)]
        self.first = {}
        self.bm25 = {}
        # DuckDB oracle over the same parquet files; Q1 joins the live
        # orders of the model, so it is re-run after every commit
        self.duck = duckdb.connect()
        li = ctx.path("lineitem")
        q = self.duck.execute
        self.o_filter = q(
            f"SELECT count(*) FROM '{li}' WHERE l_quantity >= 49 AND l_discount >= 0.09"
        ).fetchone()[0]
        a, b = self.li_range
        self.o_aggs = q(
            f"SELECT sum(l_extendedprice), avg(l_extendedprice), stddev_pop(l_extendedprice), "
            f"median(l_extendedprice), count(*) FROM '{li}' "
            f"WHERE l_orderkey >= {a} AND l_orderkey < {b}"
        ).fetchone()

    def setup(self, rep):
        from hindex_spark.catalog import Catalog
        from hindex_spark.operators.search import SearchIndex
        from hindex_spark.table import Table

        spark = self.ctx.spark()
        self.cat = Catalog(spark, os.path.join(self.ctx.tmp, f"ingest{rep}"))
        self.t = self.build(self.cat, spark)
        self.t.df.count()
        self.li = Table(spark.read.parquet(self.ctx.path("lineitem")), "l_orderkey", "lineitem")
        self.docs = spark.read.parquet(self.ctx.path("documents"))
        self.six = SearchIndex.build(
            self.cat, self.docs, "doc_id", "text", "docs", num_buckets=self.ctx.buckets)

    def q1_oracle(self):
        import pyarrow as pa

        m = self.m
        keys = np.flatnonzero(m.live)
        self.duck.register("live_orders", pa.table({
            "o_orderkey": keys, "o_orderstatus": m.status[keys].astype(str)}))
        return [tuple(r) for r in self.duck.execute(
            f"SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), "
            f"sum(l_extendedprice * (1 - l_discount)), avg(l_quantity), count(*) "
            f"FROM '{self.ctx.path('lineitem')}' JOIN live_orders ON l_orderkey = o_orderkey "
            f"WHERE l_shipdate <= DATE '1998-09-02' AND o_orderstatus <> 'P' "
            f"GROUP BY 1, 2 ORDER BY 1, 2"
        ).fetchall()]

    # -- ingest -----------------------------------------------------------

    def _batch(self, i):
        """900 distinct Zipf-drawn live keys (updates of o_custkey and
        o_totalprice only: absent cells keep their old value), 100 new
        keys carrying whole rows, and every 4th batch 100 deletes."""
        m, rng = self.m, self.ctx.rng
        upd, seen = [], set()
        while len(upd) < self.UPDATES:
            for k in self.keys.draw(self.UPDATES):
                k = int(k)
                if k not in seen and m.live[k]:
                    seen.add(k)
                    upd.append(k)
                    if len(upd) == self.UPDATES:
                        break
        new = list(range(len(m), len(m) + self.BATCH - self.UPDATES))
        custs = rng.integers(0, self.n_cust, self.BATCH)
        prices = np.round(rng.uniform(900.0, 500_000.0, self.BATCH), 2)
        days = np.datetime64("1992-01-01", "D") + rng.integers(0, 2400, len(new))
        rows = [(k, int(custs[j]), None, float(prices[j]), None, None) for j, k in enumerate(upd)]
        rows += [(k, int(custs[len(upd) + j]), "O", float(prices[len(upd) + j]),
                  days[j].item(), "3-MEDIUM") for j, k in enumerate(new)]
        dels = []
        if i % self.DELETE_EVERY == self.DELETE_EVERY - 1:
            pool = np.flatnonzero(m.live)
            pool = pool[~np.isin(pool, upd)]
            dels = [int(x) for x in rng.choice(pool, self.DELETES, replace=False)]
        return upd + new, rows, custs, prices, len(new), dels

    def commit(self, i):
        """put (+ delete) -> Catalog.save -> Catalog.load, as one op."""
        spark = self.ctx.spark()
        with self.ctx.aside():
            keys, rows, custs, prices, n_new, dels = self._batch(i)
            before = dir_bytes(os.path.join(self.cat.root, "orders"))
        schema = self.t.df.schema

        def run():
            t = self.t.put(spark.createDataFrame(rows, schema))
            if dels:
                t = t.delete(spark.createDataFrame([(k,) for k in dels], "o_orderkey long"))
            self.cat.save(t, num_partitions=self.ctx.buckets)
            return self.cat.load("orders")

        t = self.ctx.op("put", run, lambda t: None)
        if t is None:
            return None
        self.t = t
        with self.ctx.aside():
            self.bytes_written += max(dir_bytes(os.path.join(self.cat.root, "orders")) - before, 0)
            self.user_bytes += sum(len(repr(r)) for r in rows) + 8 * len(dels)
            self.rows_written += len(rows) + len(dels)
            self.m.apply(keys, custs, prices, n_new, dels)
        return keys, dels, custs

    # -- downstream batch jobs ----------------------------------------------

    def _same(self, key, value):
        """Every pass must return what the first pass returned."""
        if key not in self.first:
            self.first[key] = value
            return None
        return None if self.first[key] == value else f"{key}: result changed between passes"

    def analytics(self):
        from pyspark.sql import functions as F

        from hindex_spark import aggregations as agg
        from hindex_spark import filters as fl
        from hindex_spark.etl import jobs
        from hindex_spark.table import Scan

        op, li = self.ctx.op, self.li
        op("scan", lambda: li.scan(Scan()).count(),
           lambda n: None if n == self.n_li else f"scan count {n} != {self.n_li}")
        sel = fl.FilterList("AND", [
            fl.SingleColumnValueFilter("l_quantity", fl.GREATER_OR_EQUAL, 49.0, filter_if_missing=True),
            fl.SingleColumnValueFilter("l_discount", fl.GREATER_OR_EQUAL, 0.09, filter_if_missing=True),
        ])
        op("filter_scan", lambda: li.scan(Scan(filter=sel)).count(),
           lambda n: None if n == self.o_filter else f"filterScan {n} != {self.o_filter}")
        a, b = self.li_range
        sc = Scan(start_row=a, stop_row=b)
        for j, fn in enumerate(self.AGGS):
            want = self.o_aggs[j]
            op(fn, lambda fn=fn: getattr(agg, fn)(li, "l_extendedprice", sc),
               lambda v, fn=fn, want=want: None if close(v, want, 1e-6) else f"{fn} {v} != {want}")
        op("row_count", lambda: agg.row_count(li, sc),
           lambda v: None if v == self.o_aggs[4] else f"row_count {v} != {self.o_aggs[4]}")

        orders = self.t.df
        with self.ctx.aside():
            want_q1 = self.q1_oracle()
            live = int(self.m.live.sum())

        def q1():
            d = li.df.join(orders, li.df.l_orderkey == orders.o_orderkey)
            d = d.filter((F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
                         & (F.col("o_orderstatus") != "P"))
            return d.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum("l_quantity"), F.sum("l_extendedprice"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                F.avg("l_quantity"), F.count("*"),
            ).orderBy("l_returnflag", "l_linestatus").collect()

        def q1_check(rows):
            got = [tuple(x) for x in rows]
            if len(got) != len(want_q1):
                return f"q1: {len(got)} groups != {len(want_q1)}"
            for g, w in zip(got, want_q1):
                if g[:2] != w[:2] or g[6] != w[6] or not all(
                    close(x, y, 1e-6) for x, y in zip(g[2:6], w[2:6])
                ):
                    return f"q1 group {g[:2]}: {g} != {w}"
            return None

        op("q1", q1, q1_check)
        op("row_counter", lambda: jobs.row_counter(orders, "o_orderkey").collect()[0][0],
           lambda n: None if n == live else f"row_counter {n} != {live} live orders")

    def corpus(self, i):
        from pyspark.sql import functions as F

        from hindex_spark.operators import dedup, text

        op, docs = self.ctx.op, self.docs
        op("dedup", lambda: sorted(
            (x.id_a, x.id_b) for x in dedup.minhash_dedup_pairs(
                docs, "doc_id", "text", 0.9, hash_fn="xxhash64", max_bucket=4096
            ).collect()),
           lambda pairs: "dedup: no pairs" if not pairs else self._same("dedup", pairs))
        op("analyze", lambda: tuple(text.analyze(docs).agg(
            F.count("*"), F.sum("n_tokens"), F.max("quality"), F.sum("n_bpe_tokens")
        ).collect()[0]),
           lambda v: f"analyze count {v[0]}" if v[0] != self.n_docs else self._same("analyze", v))
        query = self.queries[i % len(self.queries)]
        ref = self.bm25[query]

        def search_check(rows):
            got = [(x.doc_id, x.score) for x in rows]
            if [g[0] for g in got] != [w[0] for w in ref] or not all(
                close(g[1], w[1]) for g, w in zip(got, ref)
            ):
                return f"search {query!r}: SearchIndex.topk differs from bm25_topk"
            return None

        op("search", lambda: self.six.topk(query, k=self.TOPK).collect(), search_check)

    def prepare(self):
        """The scan-shaped top-k reference of every query, before any
        timing: bm25_topk runs on the same JVM and would count."""
        from hindex_spark.operators.search import bm25_topk

        for query in self.queries:
            self.bm25[query] = [(r.doc_id, r.score) for r in bm25_topk(
                self.docs, "doc_id", "text", query, k=self.TOPK).collect()]

    def warmup(self):
        """None: a warm-up pass costs a whole cycle, more than the
        run-time budget allows, so the measured cycles start with a first
        pass that includes first-use code generation."""

    def cycle(self, i):
        written = self.commit(i)
        if written is not None:
            keys, dels, custs = written
            rng = self.ctx.rng
            picks = [int(k) for k in rng.choice(keys, 5, replace=False)]
            if dels:
                picks[-1] = dels[0]
            for k in picks:
                self.get(k)
            for c in rng.choice(custs, 2, replace=False):
                self.index_scan(int(c))
        self.analytics()
        self.corpus(i)

    def stored(self):
        d = os.path.join(self.cat.root, "orders")
        versions = {m.group(2) for m in (re.match(r"^(data|index)(_v\d+)?$", e)
                                         for e in os.listdir(d)) if m}
        return {
            "stored_bytes_per_row": self.stored_bytes_per_row(),
            "bytes_written_per_user_byte": self.bytes_written / max(self.user_bytes, 1),
            "versions_live": float(len(versions)),
        }

    def report(self, ops):
        rep = latency_report(ops, self.REPORT)
        put_s = sum(dt for cls, dt, *_ in ops if cls == "put")
        rep["rows_written_per_s"] = {"value": self.rows_written / max(put_s, 1e-9), "unit": "1/s"}
        return rep


WORKLOADS = {w.name: w for w in (Serving, IngestPipeline)}


def latency_report(ops, classes):
    """Per-kind latency (median and tail, with the tail's percentile and
    the sample count), for the report line. A kind ``k`` also covers its
    variants ``k:<variant>`` (scan sizes, filter shapes)."""
    rep = {}
    for cls in classes:
        ms = [dt * 1000.0 for c, dt, *_ in ops if c.split(":")[0] == cls]
        if not ms:
            continue
        tv, tp = tail(ms)
        rep[f"{cls}_p50_ms"] = {"value": statistics.median(ms), "unit": "ms", "n": len(ms)}
        rep[f"{cls}_tail_ms"] = {"value": tv, "unit": "ms", "pct": round(tp, 1), "n": len(ms)}
    return rep


# --------------------------------------------------------------------------
# tracing


def install_tracing(tracer, ctx):
    """Wrap each layer's public entry points, from outside the engine."""
    from hindex_spark import aggregations, catalog, filters, session, table
    from hindex_spark.etl import jobs
    from hindex_spark.index import planner
    from hindex_spark.operators import dedup

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(importlib.import_module("hindex_spark.parse_filter"), "parse_filter", "parse_filter")

    def plan_used(plan):
        tracer.count("planner.plans")
        tracer.count("planner.index_used", 1.0 if plan.uses_index else 0.0)

    tracer.wrap(planner.ScanFilterEvaluator, "evaluate", "index.planner.evaluate", plan_used)
    for attr in ("scan", "get", "put", "delete"):
        tracer.wrap(table.Table, attr, f"table.{attr}_build")
    tracer.wrap(table, "maintain_index", "index.build.maintain_index")
    tracer.wrap(table, "build_index", "index.build.build_index")
    tracer.wrap(catalog.Catalog, "save", "catalog.save")
    tracer.wrap(catalog.Catalog, "load", "catalog.load")
    for cls in vars(filters).values():
        if isinstance(cls, type) and issubclass(cls, filters.Filter) and "apply" in cls.__dict__:
            tracer.wrap(cls, "apply", "filters.apply")
    for fn in ("agg_sum", "agg_avg", "agg_std", "agg_median", "row_count"):
        tracer.wrap(aggregations, fn, f"aggregations.{fn}")
    tracer.wrap(jobs, "row_counter", "etl.jobs.row_counter")
    ctx.lsh_frames = []
    tracer.wrap(dedup, "lsh_candidate_pairs", "operators.dedup.lsh_candidate_pairs",
                ctx.lsh_frames.append)


# per-layer metric -> (span name, "self" | "total"): mean ms per call
SPAN_METRICS = {
    "parse_filter.busy_ms": ("parse_filter", "self"),
    "index.planner.evaluate_ms": ("index.planner.evaluate", "self"),
    "table.scan_build_ms": ("table.scan_build", "self"),
    "table.get_build_ms": ("table.get_build", "self"),
    "filters.apply_ms": ("filters.apply", "self"),
    "table.put_build_ms": ("table.put_build", "self"),
    "index.build.maintain_index_ms": ("index.build.maintain_index", "self"),
    "catalog.save_ms": ("catalog.save", "self"),
    "catalog.load_ms": ("catalog.load", "self"),
    "aggregations.agg_sum_ms": ("aggregations.agg_sum", "total"),
    "aggregations.agg_avg_ms": ("aggregations.agg_avg", "total"),
    "aggregations.agg_std_ms": ("aggregations.agg_std", "total"),
    "aggregations.agg_median_ms": ("aggregations.agg_median", "total"),
    "aggregations.row_count_ms": ("aggregations.row_count", "total"),
    "etl.jobs.row_counter_ms": ("row_counter", "total"),
    "operators.dedup.busy_ms": ("dedup", "total"),
    "operators.text.analyze_ms": ("analyze", "total"),
    "operators.search.topk_ms": ("search", "total"),
}


def per_layer(ctx, tracer, workload, gc_ms):
    traced = [o for o in ctx.ops if o[3]]
    traced_ids = {o[4] for o in traced}
    lt = tracer.layer_times(traced_ids)
    out = {}
    for metric, (span, kind) in SPAN_METRICS.items():
        calls, self_s, total_s = lt.get(span, (0, 0.0, 0.0))
        out[metric] = (1000.0 * (self_s if kind == "self" else total_s) / calls if calls else 0.0, "ms")
    plans = tracer.counters.get("planner.plans", 0.0)
    out["index.planner.index_used_ratio"] = (
        tracer.counters.get("planner.index_used", 0.0) / plans if plans else 0.0, "ratio")
    n = max(len(traced), 1)
    st = [s for i, s in ctx.op_stats.items() if s is not None and i in traced_ids]
    tot = {k: float(sum(s[k] for s in st))
           for k in ("jobs", "tasks", "input_rows", "input_bytes", "shuffle_bytes")}
    rows = float(sum(ctx.result_rows.get(i, 0) for i in traced_ids))
    out["spark.jobs_per_op"] = (tot["jobs"] / n, "jobs/op")
    out["spark.tasks_per_op"] = (tot["tasks"] / n, "tasks/op")
    out["spark.input_rows_per_result"] = (tot["input_rows"] / rows if rows else 0.0, "rows/row")
    out["spark.input_bytes"] = (tot["input_bytes"] / n, "B/op")
    out["spark.shuffle_bytes"] = (tot["shuffle_bytes"] / n, "B/op")
    stored = workload.stored()
    out["catalog.bytes_written_per_user_byte"] = (stored.get("bytes_written_per_user_byte", 0.0), "ratio")
    out["catalog.versions_live"] = (stored.get("versions_live", 0.0), "count")
    out["catalog.stored_bytes_per_row"] = (stored.get("stored_bytes_per_row", 0.0), "B")
    cands = tracer.counters.get("dedup.candidates", 0.0)
    pairs = len(getattr(workload, "first", {}).get("dedup", []))
    verified = pairs * sum(1 for o in traced if o[0] == "dedup")
    out["operators.dedup.verified_per_candidate"] = (verified / cands if cands else 0.0, "ratio")
    spans = [s for s in tracer.spans if s[0] == "session.get_spark" and s[2] is not None]
    out["session.get_spark_ms"] = (1000.0 * (spans[0][2] - spans[0][1]) if spans else 0.0, "ms")
    out["jvm.gc_ms"] = (gc_ms / n, "ms/op")
    # overhead: per kind, traced vs untraced median latency; the median
    # of those ratios over the kinds that have both
    ratios = []
    for cls in {o[0] for o in traced}:
        t = [o[1] for o in traced if o[0] == cls]
        u = [o[1] for o in ctx.ops if o[0] == cls and not o[3]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    out["tracing.overhead_pct"] = (100.0 * (statistics.median(ratios) - 1.0) if ratios else 0.0, "%")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}


# --------------------------------------------------------------------------


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    args = ap.parse_args(argv)

    tracer = Tracer()
    ctx = Ctx(args, tracer)
    cls = WORKLOADS[args.workload]
    w = cls(ctx, generate(args.seed, args.sf, ctx.data_dir, cls.tables))
    note("inputs generated")
    if args.trace:
        install_tracing(tracer, ctx)

    # set-up, SETUP_REPS times from scratch; the last one is measured on
    setups = []
    for rep in range(SETUP_REPS):
        if rep:
            w.teardown()
        tracer.enabled = bool(args.trace)
        tracer.op_id = "setup"
        t0 = time.perf_counter()
        w.setup(rep)
        setups.append(time.perf_counter() - t0)
        tracer.enabled = False
        tracer.op_id = None
        note(f"set-up {rep + 1} took {setups[-1]:.1f}s")
    spark = ctx.spark()
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    w.prepare()
    ctx.warming = True
    w.warmup()
    ctx.warming = False
    note("warmed up")
    if args.trace:
        ctx.stats = SparkStats(spark)

    # measure: cycles start while time is left; the traced run needs
    # two, so that every kind of op has an untraced and a traced sample
    def program_cpu_s():
        # the session's CPU, less JIT compilation and the benchmark's own
        return session_cpu_s() - jit_cpu_s(jvm_pid) - ctx.aside_cpu

    cycles = []
    cycle_cpu = []
    gc_ms = 0.0
    steal0 = cpu_steal_ticks()
    cpu0 = program_cpu_s()
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(cycles) < 1 + args.trace:
        gc0 = jvm_gc_ms(spark) if args.trace else 0.0
        c0 = time.perf_counter()
        w.cycle(len(cycles))
        cycles.append(time.perf_counter() - c0)
        cycle_cpu.append(program_cpu_s() - cpu0)
        if args.trace:
            # GC of the whole cycle, charged to its traced ops
            gc_ms += jvm_gc_ms(spark) - gc0
            ctx.flush_stats()
            for f in ctx.lsh_frames:
                tracer.counters["dedup.candidates"] += f.count()
            ctx.lsh_frames.clear()
        cpu0 = program_cpu_s()

    note(f"measured {len(cycles)} cycles")
    ops = ctx.ops
    attempted = len(ops)
    failed = sum(1 for o in ops if not o[2])
    steal1 = cpu_steal_ticks()
    peak_rss = proc_status_mb("self", "VmHWM") + proc_status_mb(jvm_pid, "VmHWM")
    retained = retained_mb(spark)
    untraced = [o for o in ops if not o[3]]
    op_ms = [o[1] * 1000.0 for o in untraced]
    tv, tp = tail(op_ms)
    # each kind's median weighs the same however often the kind runs, so
    # the figure does not jump between kinds as the mix's median would;
    # variants (scan sizes, filter shapes) pool into their kind, so that
    # every median has enough samples
    kinds = {o[0].split(":")[0] for o in untraced}
    kind_p50 = [statistics.median(o[1] for o in untraced if o[0].split(":")[0] == k)
                for k in sorted(kinds)]
    p50_geomean = 1000.0 * math.exp(statistics.fmean(math.log(x) for x in kind_p50))
    report = w.report(untraced)
    report.update({
        "setup_s": {"value": statistics.median(setups), "unit": "s", "all": setups},
        "error_rate": {"value": failed / attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        "retained_mb": {"value": retained, "unit": "MB"},
        "stored_bytes_per_row": {"value": w.stored_bytes_per_row(), "unit": "B"},
        # CPU time the hypervisor gave to other guests while measuring
        "host_steal_pct": {"value": 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
                           "unit": "%"},
        "p50_geomean_ms": {"value": p50_geomean, "unit": "ms", "kinds": len(kind_p50)},
        "op_tail_ms": {"value": tv, "unit": "ms", "pct": round(tp, 1), "n": len(op_ms)},
        "cycle_p50_s": {"value": statistics.median(cycles), "unit": "s", "all": cycles},
        "cycle_cpu_s": {"value": statistics.fmean(cycle_cpu), "unit": "s", "all": cycle_cpu},
    })
    if args.trace:
        metrics = per_layer(ctx, tracer, w, gc_ms)
        out_dir = os.environ.get("PERFBENCH_OUT")
        if out_dir:
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans_{args.workload}_seed{args.seed}.json"))
    else:
        metrics = {k: {"value": report[k]["value"], "unit": report[k]["unit"]}
                   for k in ("setup_s", "retained_mb", "stored_bytes_per_row")}
    print("report: " + json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
