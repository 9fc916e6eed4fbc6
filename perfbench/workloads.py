"""The two closed-loop workloads. One single-threaded client sends the
next batch only when the previous sync and its dashboard reads have
returned. Every call goes through the package's public API."""

from __future__ import annotations

import functools
import os
import time
from contextlib import nullcontext

from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from sfguide_getting_started_openflow_postgresql_cdc_spark import engine, schemas
from sfguide_getting_started_openflow_postgresql_cdc_spark.sources import (
    healthcare,
    loader,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming import cdc, mv


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def store_files(*roots: str) -> dict[tuple[int, int], int]:
    """(inode, mtime) -> size of every file under the roots; a hard link
    keeps both, so only bytes newly written get new keys."""
    out = {}
    for root in roots:
        for d, _sub, files in os.walk(root):
            for name in files:
                try:
                    st = os.stat(os.path.join(d, name))
                except FileNotFoundError:
                    continue
                out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


class Workload:
    """Shared closed loop: set-up, warm-up batches, then batches until
    the deadline, then the output check."""

    name = ""
    cycle = 3  # batches per input cycle; a run measures whole cycles

    def __init__(self, spark, run_dir: str, seed: int, tracer=None):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.sync_s: list[float] = []
        self.fresh_s: list[float] = []
        self.query_s: list[float] = []  # mean read latency per refresh
        self.query_by_name: dict[str, list[float]] = {}
        self.events = 0
        self.payload_bytes = 0
        self.new_bytes = 0
        self.attempted = 0
        self.failed = 0
        self.traced_batches: list[tuple[int, float, float]] = []
        self.untraced_batches: list[tuple[int, float, float]] = []

    # -- tracing helpers ----------------------------------------------------
    def span(self, name, **kw):
        if self.tracer is None:
            return nullcontext({})
        return self.tracer.span(name, **kw)

    def wrap(self, obj, method, name, attrs=None):
        if self.tracer is not None:
            self.tracer.wrap(obj, method, name, attrs)

    def store_roots(self) -> list[str]:
        """Directories whose new files count as written by a sync."""
        return [self.store.root]

    # -- the run --------------------------------------------------------------
    def batch(self, i: int, measured: bool) -> None:
        path, n_ev, nbytes = self.stream.next_batch()
        before = store_files(*self.store_roots()) if measured else None
        if self.tracer is not None:
            self.tracer.batch = i
            # odd batches traced, even untraced: the difference is the
            # tracing overhead, with JVM warm-up drift hitting both alike
            self.tracer.enabled = i % 2 == 1
        with self.span("batch", events=n_ev):
            t0 = time.perf_counter()
            with self.span("sync"):
                self.sync(path)
            t1 = time.perf_counter()
            with self.span("dashboard"):
                reads = self.reads()
                for qname, q in reads:
                    with self.span(f"read:{qname}"):
                        _, s = _timed(q)
                    if measured:
                        self.query_by_name.setdefault(qname, []).append(s)
            t2 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.enabled = True
            self.tracer.batch = None
        if not measured:
            return
        after = store_files(*self.store_roots())
        self.new_bytes += sum(v for k, v in after.items() if k not in before)
        self.sync_s.append(t1 - t0)
        self.fresh_s.append(t2 - t0)
        self.query_s.append((t2 - t1) / len(reads))
        self.events += n_ev
        self.payload_bytes += nbytes
        (self.traced_batches if i % 2 == 1 else self.untraced_batches).append(
            (i, t1 - t0, t2 - t0)
        )

    def run(self, seconds: float, warmup: int) -> None:
        with self.span("setup"):
            _, self.build_s = _timed(self.build)
        t0 = time.perf_counter()
        for i in range(warmup):
            self.batch(-1 - i, measured=False)
        self.warmup_s = time.perf_counter() - t0
        deadline = time.perf_counter() + seconds
        # traced runs alternate traced and untraced batches, so they
        # measure whole pairs of cycles: both halves see every batch kind
        unit = self.cycle * (2 if self.tracer is not None else 1)
        i = 0
        while time.perf_counter() < deadline or i % unit or not i:
            self.attempted += 1 + len(self.reads())
            self.batch(i, measured=True)
            i += 1
        self.check()

    def require(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: output check failed: {what}", flush=True)


# ---------------------------------------------------------------------------
# clinic_live
# ---------------------------------------------------------------------------

CLINIC_LOAD_TS = "2024-06-02 12:00:00"
DASHBOARD = ("current_day_status", "patients_in_clinic",
             "doctor_availability_today", "cdc_recent_changes",
             "cdc_change_volume")
BLESSED = "What is the total revenue by doctor?"


class ClinicLive(Workload):
    name = "clinic_live"

    def build(self) -> None:
        self.stream = gen.ClinicStream(
            self.seed, os.path.join(self.run_dir, "events"), CLINIC_LOAD_TS)
        with self.span("sources.load"):
            src, self.load_s = _timed(
                lambda: healthcare.snapshot_dataframes(self.spark))
        self.eng = engine.Engine(self.spark, os.path.join(self.run_dir, "wh"))
        self.store = self.eng.cdc.store
        self.instrument()
        self.eng.bootstrap(src, CLINIC_LOAD_TS)

    def instrument(self) -> None:
        eng = self.eng
        self.wrap(eng, "bootstrap", "engine.bootstrap")
        self.wrap(eng, "apply_batch", "engine.apply_batch")
        self.wrap(eng, "analytics", "analytics.query")
        self.wrap(eng, "ask", "semantic.ask")
        self.wrap(eng, "replicas", "engine.replicas")
        self.wrap(eng, "verified", "semantic.verified")
        self.wrap(eng.model, "route", "semantic.route")
        _wrap_cdc(self, eng.cdc)

    def sync(self, path: str) -> None:
        batch = self.spark.read.schema(cdc.ENVELOPE).json(path)
        self.eng.apply_batch(batch)

    def reads(self):
        eng = self.eng
        out = [(n, (lambda n=n: eng.analytics(n).collect())) for n in DASHBOARD]
        out.append(("ask", lambda: eng.ask(BLESSED).collect()))
        return out

    def check(self) -> None:
        model = self.stream.model
        meta = [schemas.META_INSERTED_AT, schemas.META_UPDATED_AT,
                schemas.META_DELETED]
        for table, fields in model.fields.items():
            got = sorted(
                (tuple(gen.norm(r[c]) for c in fields + meta)
                 for r in self.store.read(self.spark, table).select(*fields, *meta)
                 .collect()),
                key=repr,
            )
            self.require(got == model.expected_rows(table), f"replica {table}")


# ---------------------------------------------------------------------------
# orders_churn
# ---------------------------------------------------------------------------

ORDERS_LOAD_TS = "2001-09-01 00:00:00"


def _schema(*fields):
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


PRICE = T.DecimalType(12, 2)
ORDERS_SCHEMA = _schema(
    ("o_orderkey", T.LongType()), ("o_custkey", T.LongType()),
    ("o_orderstatus", T.StringType()), ("o_totalprice", PRICE),
    ("o_orderdate", T.DateType()), ("o_orderpriority", T.StringType()),
)
CUSTOMER_SCHEMA = _schema(
    ("c_custkey", T.LongType()), ("c_name", T.StringType()),
    ("c_nationkey", T.IntegerType()), ("c_acctbal", PRICE),
    ("c_mktsegment", T.StringType()),
)


class OrdersChurn(Workload):
    name = "orders_churn"
    n_orders = 150_000
    n_customers = 15_000
    sizes = (100, 1_000, 5_000)

    def build(self) -> None:
        self.stream = gen.OrdersStream(
            self.seed, os.path.join(self.run_dir, "events"), self.n_orders,
            self.n_customers, self.sizes,
        )
        paths = self.stream.write_snapshot(os.path.join(self.run_dir, "src"))
        tables = {"orders": ORDERS_SCHEMA, "customer": CUSTOMER_SCHEMA}
        with self.span("sources.load"):
            src, self.load_s = _timed(lambda: {
                t: loader.load_snapshot_source(self.spark, paths[t], t, tables[t])
                for t in tables
            })
        self.nation = self.spark.read.parquet(paths["nation"])
        self.store = cdc.ReplicaStore(os.path.join(self.run_dir, "store"))
        self.cdc = cdc.CdcEngine(
            self.store,
            tables=tables,
            primary_keys={"orders": "o_orderkey", "customer": "c_custkey"},
            n_buckets=16,
        )
        self.mv = mv.IncrementalGroupSum(
            self.cdc, "orders", "o_custkey", "o_totalprice",
            os.path.join(self.run_dir, "mv"),
        )
        self.instrument()
        self.cdc.bootstrap(self.spark, src, ORDERS_LOAD_TS, journal_snapshot=False)
        self.mv.initialize(self.spark)

    def instrument(self) -> None:
        self.wrap(self.mv, "initialize", "mv.initialize")
        self.wrap(self.mv, "merge_batch", "mv.merge_batch")
        self.wrap(self.mv, "read", "mv.read")
        self.wrap(self.cdc, "consistent_snapshot", "cdc.consistent_snapshot")
        _wrap_cdc(self, self.cdc)

    def store_roots(self):
        return [self.store.root, self.mv.path]

    def sync(self, path: str) -> None:
        raw = self.spark.read.schema(cdc.ENVELOPE).json(path)
        # what IncrementalGroupCount.start_stream does per micro-batch
        orders = raw.filter(F.col("table_name") == "orders")
        self.cdc.append_journal("orders", orders)
        self.mv.merge_batch(self.spark, orders)
        self.cdc.apply_envelope_batch(
            self.spark, raw.filter(F.col("table_name") == "customer")
        )

    def _revenue(self):
        snap = self.cdc.consistent_snapshot(self.spark)
        o = snap["orders"].filter(~F.col("_SNOWFLAKE_DELETED"))
        c = snap["customer"].filter(~F.col("_SNOWFLAKE_DELETED"))
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(self.nation), c.c_nationkey == self.nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.sum("o_totalprice").alias("revenue"))
            .collect()
        )

    def reads(self):
        return [
            ("mv", lambda: self.mv.read(self.spark).collect()),
            ("revenue_by_nation", self._revenue),
        ]

    def check(self) -> None:
        import pyarrow.parquet as pq

        spark, store = self.spark, self.store
        exp_path = os.path.join(self.run_dir, "expected_orders.parquet")
        pq.write_table(self.stream.expected_orders_table(ORDERS_LOAD_TS), exp_path)
        exp = spark.read.parquet(exp_path)
        got = store.read(spark, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_custkey").alias("cust"),
            F.col("o_orderstatus").alias("status"),
            (F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.unix_date("o_orderdate").alias("day"),
            F.col("o_orderpriority").alias("prio"),
            F.col("_SNOWFLAKE_INSERTED_AT").cast("string").alias("ins"),
            F.col("_SNOWFLAKE_UPDATED_AT").cast("string").alias("upd"),
            F.col("_SNOWFLAKE_DELETED").alias("del"),
        )
        same = [F.col(f"g.{c}").eqNullSafe(F.col(f"e.{c}"))
                for c in got.columns if c != "k"]
        diff = (
            got.alias("g").join(exp.alias("e"), "k", "full_outer")
            .filter(~functools.reduce(lambda a, b: a & b, same))
            .count()
        )
        self.require(diff == 0, f"replica orders ({diff} keys differ)")

        want_c = self.stream.expected_customers(ORDERS_LOAD_TS)
        got_c = {
            r[0]: (int(r[1] * 100), gen.norm(r[2]), gen.norm(r[3]), r[4])
            for r in store.read(spark, "customer").select(
                "c_custkey", "c_acctbal", "_SNOWFLAKE_INSERTED_AT",
                "_SNOWFLAKE_UPDATED_AT", "_SNOWFLAKE_DELETED",
            ).collect()
        }
        self.require(got_c == want_c, "replica customer")

        got_mv = {r["grp"]: (r["n"], int(r["s"] * 100))
                  for r in self.mv.read(spark).collect()}
        self.require(got_mv == self.stream.expected_mv(), "mv sum by o_custkey")


def _wrap_cdc(w: Workload, cdc_engine) -> None:
    store = cdc_engine.store

    def merged_attrs(spark, table, changed_df, changed_buckets, watermark):
        old = store.table_path(table)
        present = [n for n in os.listdir(old) if n.startswith("_CDC_BUCKET=")]
        rewritten = set(changed_buckets)
        return {
            "buckets_rewritten": len(rewritten),
            "buckets_linked": sum(
                int(n.split("=", 1)[1]) not in rewritten for n in present
            ),
        }

    w.wrap(cdc_engine, "bootstrap", "cdc.bootstrap")
    w.wrap(cdc_engine, "apply_envelope_batch", "cdc.apply_envelope_batch")
    w.wrap(cdc_engine, "merge_batch", "cdc.merge_batch")
    w.wrap(cdc_engine, "append_journal", "cdc.append_journal")
    w.wrap(store, "write_full", "store.write_full")
    w.wrap(store, "write_merged", "store.write_merged", merged_attrs)


WORKLOADS = {"clinic_live": ClinicLive, "orders_churn": OrdersChurn}
