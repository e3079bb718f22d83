"""The benchmark's workloads.

* ``etl_bulk_copy``: TPC-H ``lineitem`` in 8 local Parquet files,
  drained as one batch by ``pipeline.run`` through
  ``CopySink(format="binary")`` into a ``StagedLoad`` staging table,
  then swapped in. Per-row work dominates.
* ``etl_small_batches``: TPC-H ``orders`` cut into 32 objects on an S3
  endpoint, drained 4 objects per batch in endpoint mode with a
  projection, renames and ``numeric``/``date`` casts. Per-batch work
  dominates. Runnable by hand; ``BENCHMARK.json`` leaves it out (see
  the README).
* ``catalog_curation``: one pass over eight curation catalog queries
  on a seed-permuted corpus. Plan construction and shuffles dominate.

Every pass is followed, outside its timed window, by a correctness
gate; a pass whose gate fails counts all of its batches or queries as
failed.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb
import pyarrow.parquet as pq

from . import inputs
from .services import S3_HEADERS
from .trace import Tracer, drain_rows

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "catalog_expected.json")
SIZES = {
    "full": {"lineitem_rows": 600_000, "lineitem_files": 8,
             "orders_rows": 75_000, "orders_objects": 32,
             "docs": 2_000, "vecs": 800},
    "tiny": {"lineitem_rows": 6_000, "lineitem_files": 2,
             "orders_rows": 1_500, "orders_objects": 2,
             "docs": 500, "vecs": 200},
}

CATALOG_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_containment",
    "similarity_topk_cosine",
    "text_tfidf",
    "text_textrank",
    "graph_pagerank",
    "ml_naive_bayes",
    "corpus_curation_pipeline",
)
CATALOG_COUNTERS = ("construct_s", "exec_s", "construct_jobs", "jobs",
                    "shuffle_bytes", "executor_cpu_s", "spill_bytes")
ETL_LAYERS = (
    "work_list.busy_s", "s3http.stage_s", "s3http.bytes",
    "pipeline.plan_s", "casts.plan_s", "copy.write_s",
    "staging.prepare_s", "staging.swap_s",
    "pg.table_bytes_per_row", "pg.wal_bytes_per_row",
)
ISOLATION = (
    "parquet.scan_rows_per_s", "spark.handoff_rows_per_s",
    "copy.encode_rows_per_s", "copy.bytes_per_row",
    "pgwire.copy_mb_per_s", "pgwire.connect_s",
)
SPARK_COUNTERS = ("spark.jobs", "spark.tasks", "spark.executor_cpu_s",
                  "spark.gc_s")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order ``BENCHMARK.json`` lists them."""
    names = list(ETL_LAYERS) + list(ISOLATION) + list(SPARK_COUNTERS)
    names += [f"{q}.{c}" for q in CATALOG_QUERIES for c in CATALOG_COUNTERS]
    return names + ["trace.unattributed_s", "trace.overhead_frac",
                    "host.calibration_s"]


@dataclass
class PassResult:
    wall_s: float
    unit_s: list[float]  # batch commit gaps, or per-query walls
    rows: int  # rows committed, or input rows the queries read
    attempted: int
    failed: int
    cpu_s: float = 0.0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Context:
    """What a workload needs from the run that hosts it."""

    workdir: str
    seed: int
    scale: str  # a key of SIZES
    sizes: dict[str, int]
    spark: Any
    services: Any = None
    rest: Any = None  # trace.SparkRest on traced runs
    drop_row: bool = False
    cpu_s: Callable[[], float] = lambda: 0.0  # CPU-seconds of the run so far


def _hash32(expr: str, dialect: str) -> str:
    """First 32 bits of md5(text) as an unsigned integer."""
    if dialect == "pg":
        return f"('x' || substr(md5({expr}), 1, 8))::bit(32)::bigint"
    return f"CAST('0x' || substr(md5({expr}), 1, 8) AS UBIGINT)"


# ---------------------------------------------------------------------------
# ETL
# ---------------------------------------------------------------------------


class _Etl:
    """Shared drain, gate and isolation logic of the two ETL workloads."""

    needs_pg = True
    traced_needs_s3 = False
    table: str
    ddl: str
    column_targets: dict[str, str] | None = None
    # (Postgres expression over the target, DuckDB expression over the
    # generated files); compared as exact integers.
    checks: list[tuple[str, str]]

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.svc = ctx.services
        self.wl_dir = os.path.join(ctx.workdir, "work_list")
        self.stage_dir = os.path.join(ctx.workdir, "stage")
        self.local_files: list[str] = []
        self.keys: list[str] = []
        self.expected: list[int] = []
        self.drop_key: int | None = None

    # -- set-up --------------------------------------------------------

    def prepare(self) -> None:
        self._make_inputs()
        self.svc.pg_rows(self.ddl)
        files = ", ".join(f"'{p}'" for p in self.local_files)
        sql = ", ".join(d for _, d in self.checks)
        row = duckdb.sql(f"SELECT {sql} FROM read_parquet([{files}])").fetchone()
        self.expected = [int(v) for v in row]
        if self.ctx.drop_row:
            first = pq.read_table(self.local_files[0]).column(0)[0].as_py()
            self.drop_key = int(first)

    def _make_inputs(self) -> None:
        raise NotImplementedError

    def spec(self):
        raise NotImplementedError

    @property
    def columns(self) -> tuple[str, ...]:
        p = self.spec().projection
        return tuple(p.output_name(f) for f in p.desired_fields)

    def _reset_work_list(self) -> None:
        shutil.rmtree(self.wl_dir, ignore_errors=True)
        os.makedirs(self.wl_dir)
        with open(os.path.join(self.wl_dir, "todo"), "w") as fh:
            fh.write("".join(k + "\n" for k in self.keys))
        os.makedirs(self.stage_dir, exist_ok=True)

    # -- one drain -------------------------------------------------------

    def _trace_targets(self, tracer: Tracer) -> list[tuple]:
        from s3_parquet_to_postgres_spark import pipeline
        from s3_parquet_to_postgres_spark.sources import s3http
        from s3_parquet_to_postgres_spark.sources.work_list import WorkList

        def staged_bytes(paths: list[str]) -> None:
            tracer.counters["s3http.bytes"] += sum(
                os.path.getsize(p) for p in paths)

        return [
            (WorkList, "next_batch", "work_list.next_batch", None),
            (WorkList, "mark_completed", "work_list.mark_completed", None),
            (s3http.S3HttpClient, "stage", "s3http.stage", staged_bytes),
            (s3http, "unstage", "s3http.unstage", None),
            (pipeline, "scan_parquet", "parquet.scan", None),
            (pipeline, "transform", "pipeline.transform", None),
            (pipeline, "build_cast_plan", "casts.plan", None),
        ]

    def one_pass(self, tracer: Tracer | None = None) -> PassResult:
        from pyspark.sql import functions as F

        from s3_parquet_to_postgres_spark import pipeline
        from s3_parquet_to_postgres_spark.sinks import CopySink, StagedLoad

        self._reset_work_list()
        conn = self.svc.conn_string
        staged = StagedLoad(conn, self.table)
        sink = CopySink(conn, staged.staging_table, self.columns,
                        format="binary")
        commits: list[float] = []

        def write(df) -> int:
            if self.drop_key is not None:
                df = df.where(F.col(self.columns[0]) != F.lit(self.drop_key))
            if tracer is None:
                n = sink.write(df)
            else:
                with tracer.span("copy.write"):
                    n = sink.write(df)
            commits.append(time.perf_counter())
            return n

        sc = self.ctx.spark.sparkContext
        group = f"etl-{time.monotonic_ns()}"
        lsn0 = None
        if tracer is not None:
            tracer.counters.clear()
            lsn0 = self.svc.pg_rows("SELECT pg_current_wal_lsn()")[0][0]
            sc.setJobGroup(group, "benchmark drain")
        spec = self.spec()
        results, problems = [], []
        cpu0 = self.ctx.cpu_s()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                staged.prepare()
                results = pipeline.run(self.ctx.spark, spec, write,
                                       self.column_targets)
                staged.swap()
            else:
                with tracer.span("drain") as root, \
                        tracer.patched(self._trace_targets(tracer)):
                    with tracer.span("staging.prepare"):
                        staged.prepare()
                    results = pipeline.run(self.ctx.spark, spec, write,
                                           self.column_targets)
                    with tracer.span("staging.swap"):
                        staged.swap()
        except Exception as e:  # a failed drain is a measured outcome
            problems.append(f"drain raised {type(e).__name__}: {e}"[:300])
        wall = time.perf_counter() - t0
        cpu = self.ctx.cpu_s() - cpu0
        if tracer is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        batches = max(1, -(-len(self.keys) // spec.source.download_batch_size))
        if not problems:
            problems = self.gate(results)
        res = PassResult(
            wall_s=wall,
            unit_s=[b - a for a, b in zip([t0] + commits, commits)],
            rows=sum(r.rows_written for r in results),
            attempted=batches,
            failed=batches if problems else 0,
            cpu_s=cpu,
            problems=problems,
        )
        if tracer is not None and not problems:
            res.layers = self._layers(tracer, root, lsn0, res.rows, group)
        return res

    def _layers(self, tracer: Tracer, root, lsn0: str, rows: int,
                group: str) -> dict[str, float]:
        st = tracer.self_times(root)
        tot = tracer.totals(root)
        wal, size = self.svc.pg_rows(
            f"SELECT pg_wal_lsn_diff(pg_current_wal_lsn(), '{lsn0}'), "
            f"pg_total_relation_size('{self.table}')")[0]
        out = {
            "work_list.busy_s": st["work_list.next_batch"]
            + st["work_list.mark_completed"],
            "s3http.stage_s": st["s3http.stage"] + st["s3http.unstage"],
            "s3http.bytes": tracer.counters["s3http.bytes"],
            "pipeline.plan_s": tot["parquet.scan"] + tot["pipeline.transform"],
            "casts.plan_s": tot["casts.plan"],
            "copy.write_s": tot["copy.write"],
            "staging.prepare_s": tot["staging.prepare"],
            "staging.swap_s": tot["staging.swap"],
            "pg.table_bytes_per_row": int(size) / rows,
            "pg.wal_bytes_per_row": float(wal) / rows,
            "trace.unattributed_s": st["drain"],
        }
        c = self.ctx.rest.group_counters([group])[group]
        out.update({f"spark.{k}": c[k] for k in
                    ("jobs", "tasks", "executor_cpu_s", "gc_s")})
        return out

    def warm_pass(self) -> PassResult:
        return self.one_pass()

    # -- correctness -----------------------------------------------------

    def gate(self, results) -> list[str]:
        """In-server checksums against DuckDB, plus the work-list and
        staging state a finished drain must leave behind."""
        problems = []
        sql = ", ".join(p for p, _ in self.checks)
        got = [int(v) for v in
               self.svc.pg_rows(f"SELECT {sql} FROM {self.table}")[0]]
        if got != self.expected:
            problems.append(f"checksums {got} != expected {self.expected}")
        if sum(r.rows_written for r in results) != self.expected[0]:
            problems.append("rows reported by the sink != rows generated")

        def lines(name: str) -> list[str]:
            path = os.path.join(self.wl_dir, name)
            if not os.path.exists(path):
                return []
            with open(path) as fh:
                return [ln.strip() for ln in fh if ln.strip()]

        if sorted(lines("completed")) != sorted(self.keys):
            problems.append("completed does not list every key exactly once")
        if lines("wip") or lines("todo"):
            problems.append("wip or todo not empty after the drain")
        leftovers = [f for _, _, fs in os.walk(self.stage_dir) for f in fs]
        if leftovers:
            problems.append(f"{len(leftovers)} staged files left behind")
        gone = self.svc.pg_rows(
            f"SELECT to_regclass('{self.table}__staging') IS NULL")[0][0]
        if gone != "t":
            problems.append("staging table left behind")
        return problems

    # -- isolation calls (traced run only) ------------------------------

    def isolation(self) -> dict[str, float]:
        """Scan, JVM->Python hand-off, PGCOPY encode, wire and connect,
        each timed on its own over this workload's rows."""
        from s3_parquet_to_postgres_spark.pipeline import transform
        from s3_parquet_to_postgres_spark.sinks import pgwire
        from s3_parquet_to_postgres_spark.sinks.copy import (
            BINARY_HEADER,
            BINARY_TRAILER,
            CopySink,
            binary_encoders,
            encode_rows_binary,
        )
        from s3_parquet_to_postgres_spark.sources.parquet import scan_parquet

        spark = self.ctx.spark
        spec = self.spec()
        rows = self.expected[0]
        df = transform(scan_parquet(spark, self.local_files), spec,
                       self.column_targets).select(*self.columns)
        out = {}
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out["parquet.scan_rows_per_s"] = rows / (time.perf_counter() - t)
        t = time.perf_counter()
        df.foreachPartition(drain_rows)
        out["spark.handoff_rows_per_s"] = rows / (time.perf_counter() - t)

        sample = [tuple(r) for r in df.limit(50_000).collect()]
        encoders = binary_encoders(df.schema)
        t = time.perf_counter()
        body = b"".join(encode_rows_binary(sample, encoders))
        out["copy.encode_rows_per_s"] = len(sample) / (time.perf_counter() - t)
        out["copy.bytes_per_row"] = len(body) / len(sample)

        wire_table = f"{self.table}__wire"
        self.svc.pg_rows(f"DROP TABLE IF EXISTS {wire_table}; "
                         f"CREATE TABLE {wire_table} (LIKE {self.table})")
        stream = BINARY_HEADER + body + BINARY_TRAILER
        copy_sql = CopySink(self.svc.conn_string, wire_table, self.columns,
                            format="binary").copy_sql()
        conn = pgwire.connect(self.svc.conn_string)
        try:
            t = time.perf_counter()
            with conn.cursor() as cur:
                cur.copy_expert(copy_sql, io.BytesIO(stream))
            conn.commit()
            out["pgwire.copy_mb_per_s"] = (
                len(stream) / (time.perf_counter() - t) / 1e6)
        finally:
            conn.close()
        self.svc.pg_rows(f"DROP TABLE {wire_table}")
        walls = []
        for _ in range(5):
            t = time.perf_counter()
            pgwire.connect(self.svc.conn_string).close()
            walls.append(time.perf_counter() - t)
        out["pgwire.connect_s"] = statistics.median(walls)
        return out


class EtlBulkCopy(_Etl):
    name = "etl_bulk_copy"
    needs_s3 = False
    # The drain reads local files; the traced run stages the same files
    # from the S3 endpoint as an isolation call.
    traced_needs_s3 = True
    bucket = "bench"
    cast_targets = {"l_extendedprice": "numeric", "l_shipdate": "date"}
    table = "lineitem_load"
    ddl = (
        "CREATE TABLE lineitem_load (l_orderkey bigint, l_partkey bigint, "
        "l_suppkey bigint, l_linenumber int, l_quantity float8, "
        "l_extendedprice float8, l_discount float8, l_tax float8, "
        "l_returnflag text, l_linestatus text, l_shipdate timestamp)"
    )
    checks = [
        ("count(*)", "count(*)"),
        *[(f"sum({c})", f"sum({c})") for c in
          ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")],
        *[(f"sum(round({c} * 100)::bigint)", f"sum(round({c} * 100)::BIGINT)")
          for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")],
        *[(f"sum({_hash32(c, 'pg')})", f"sum({_hash32(c, 'duck')})")
          for c in ("l_returnflag", "l_linestatus")],
        ("sum((extract(epoch FROM l_shipdate) * 1000000)::bigint)",
         "sum(epoch_us(l_shipdate))"),
    ]

    def _make_inputs(self) -> None:
        s = self.ctx.sizes
        table = inputs.lineitem(s["lineitem_rows"], self.ctx.seed)
        n, k = len(table), s["lineitem_files"]
        bounds = [n * i // k for i in range(k + 1)]
        self.local_files = inputs.write_parts(
            table, os.path.join(self.ctx.workdir, "lineitem"), bounds,
            "lineitem")
        self.keys = list(self.local_files)

    def isolation(self) -> dict[str, float]:
        """The shared isolation calls, plus the two driver-side layers
        this drain does not reach: staging the workload's files from the
        S3 endpoint, and planning ``numeric``/``date`` casts over its
        rows."""
        from s3_parquet_to_postgres_spark.operators.casts import build_cast_plan
        from s3_parquet_to_postgres_spark.pipeline import transform
        from s3_parquet_to_postgres_spark.sources import s3http
        from s3_parquet_to_postgres_spark.sources.parquet import scan_parquet

        out = super().isolation()
        self.svc.s3_put(self.bucket)
        urls = []
        for path in self.local_files:
            key = f"lineitem/{os.path.basename(path)}"
            with open(path, "rb") as fh:
                self.svc.s3_put(f"{self.bucket}/{key}", fh.read())
            urls.append(f"s3://{self.bucket}/{key}")
        client = s3http.S3HttpClient(self.svc.s3_endpoint,
                                     extra_headers=S3_HEADERS)
        dest = os.path.join(self.ctx.workdir, "s3-isolation")
        t = time.perf_counter()
        staged = client.stage(urls, dest)
        n_bytes = sum(os.path.getsize(p) for p in staged)
        s3http.unstage(dest)
        out["s3http.stage_s"] = time.perf_counter() - t
        out["s3http.bytes"] = n_bytes

        df = transform(scan_parquet(self.ctx.spark, self.local_files),
                       self.spec())
        t = time.perf_counter()
        build_cast_plan(df, self.cast_targets)
        out["casts.plan_s"] = time.perf_counter() - t
        return out

    def spec(self):
        from s3_parquet_to_postgres_spark.config import (
            JobSpec, ProjectionSpec, SinkSpec, SourceSpec)

        return JobSpec(
            source=SourceSpec(work_lists_dir=self.wl_dir,
                              download_batch_size=len(self.keys)),
            projection=ProjectionSpec(desired_fields=(
                "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                "l_returnflag", "l_linestatus", "l_shipdate")),
            sink=SinkSpec(),
        )


class EtlSmallBatches(_Etl):
    name = "etl_small_batches"
    needs_s3 = True
    bucket = "bench"
    table = "orders_load"
    ddl = (
        "CREATE TABLE orders_load (order_id bigint, customer_id bigint, "
        "total_price numeric, order_date date, priority text)"
    )
    column_targets = {"total_price": "numeric", "order_date": "date"}
    checks = [
        ("count(*)", "count(*)"),
        ("sum(order_id)", "sum(o_orderkey)"),
        ("sum(customer_id)", "sum(o_custkey)"),
        ("sum(round(total_price * 100)::bigint)",
         "sum(round(o_totalprice * 100)::BIGINT)"),
        ("sum(order_date - DATE '1970-01-01')",
         "sum(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))"),
        (f"sum({_hash32('priority', 'pg')})",
         f"sum({_hash32('o_orderpriority', 'duck')})"),
    ]

    def _make_inputs(self) -> None:
        s = self.ctx.sizes
        table = inputs.orders(s["orders_rows"], self.ctx.seed)
        bounds = inputs.split_points(len(table), s["orders_objects"],
                                     self.ctx.seed)
        self.local_files = inputs.write_parts(
            table, os.path.join(self.ctx.workdir, "orders"), bounds, "orders")
        self.svc.s3_put(self.bucket)
        self.keys = []
        for path in self.local_files:
            key = f"orders/{os.path.basename(path)}"
            with open(path, "rb") as fh:
                self.svc.s3_put(f"{self.bucket}/{key}", fh.read())
            self.keys.append(key)

    def spec(self):
        from s3_parquet_to_postgres_spark.config import (
            JobSpec, ProjectionSpec, SinkSpec, SourceSpec)

        return JobSpec(
            source=SourceSpec(
                bucket=self.bucket, download_batch_size=4,
                work_lists_dir=self.wl_dir, endpoint=self.svc.s3_endpoint,
                stage_dir=self.stage_dir,
                endpoint_headers=tuple(S3_HEADERS.items())),
            projection=ProjectionSpec(
                desired_fields=("o_orderkey", "o_custkey", "o_totalprice",
                                "o_orderdate", "o_orderpriority"),
                renames={"o_orderkey": "order_id",
                         "o_custkey": "customer_id",
                         "o_totalprice": "total_price",
                         "o_orderdate": "order_date",
                         "o_orderpriority": "priority"}),
            sink=SinkSpec(),
        )


# ---------------------------------------------------------------------------
# Catalog
# ---------------------------------------------------------------------------


def _canon_value(v: Any) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_value(e) for e in v) + "]"
    return str(v)


def canonical(pdf) -> tuple[list[str], int, str]:
    """Sorted column names, row count and an order-insensitive hash."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_canon_value(v) for v in r)
                  for r in pdf[cols].itertuples(index=False, name=None))
    return cols, len(rows), hashlib.md5("\x1e".join(rows).encode()).hexdigest()


class CatalogCuration:
    name = "catalog_curation"
    needs_s3 = False
    traced_needs_s3 = False
    needs_pg = False

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.workdir, "catalog")
        self.bad: set[str] = set()
        self.input_rows = 0

    def prepare(self) -> None:
        from s3_parquet_to_postgres_spark.plans import all_queries

        n_docs, n_vecs = inputs.write_catalog(
            self.data_dir, self.ctx.sizes["docs"], self.ctx.sizes["vecs"],
            self.ctx.seed)
        fns = all_queries()
        self.fns = {q: fns[q] for q in CATALOG_QUERIES}
        with open(EXPECTED_PATH) as fh:
            self.expected = json.load(fh)[self.ctx.scale]
        # Rows of input each query reads: the embeddings for the
        # similarity query, the documents for the rest.
        self.input_rows = sum(
            n_vecs if q.startswith("similarity") else n_docs
            for q in CATALOG_QUERIES)

    def warm_pass(self) -> PassResult:
        """The untimed first pass: each query's result is collected and
        compared with its oracle answer (see ``oracle.py``)."""
        from s3_parquet_to_postgres_spark.operators.ranking import drain_pins

        problems = []
        t0 = time.perf_counter()
        for q in CATALOG_QUERIES:
            try:
                got = list(canonical(
                    self.fns[q](self.ctx.spark, self.data_dir).toPandas()))
            except Exception as e:
                got = [f"{type(e).__name__}: {e}"[:200]]
            finally:
                drain_pins()
            if got != self.expected[q]:
                self.bad.add(q)
                problems.append(f"{q}: {got[1:]} != oracle {self.expected[q][1:]}")
        return PassResult(time.perf_counter() - t0, [], self.input_rows,
                          len(CATALOG_QUERIES), len(self.bad), problems)

    def one_pass(self, tracer: Tracer | None = None) -> PassResult:
        from s3_parquet_to_postgres_spark.operators.ranking import drain_pins

        sc = self.ctx.spark.sparkContext
        walls, problems, failed = [], [], 0
        tag = time.monotonic_ns()
        cpu0 = self.ctx.cpu_s()
        t0 = time.perf_counter()
        with (tracer.span("pass") if tracer else nullcontext()) as root:
            for q in CATALOG_QUERIES:
                tq = time.perf_counter()
                try:
                    if tracer is not None:
                        sc.setJobGroup(f"{q}:construct:{tag}", q)
                    with (tracer.span(f"{q}.construct") if tracer else nullcontext()):
                        df = self.fns[q](self.ctx.spark, self.data_dir)
                    if tracer is not None:
                        sc.setJobGroup(f"{q}:exec:{tag}", q)
                    with (tracer.span(f"{q}.exec") if tracer else nullcontext()):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:
                    problems.append(f"{q} raised {type(e).__name__}: {e}"[:300])
                    failed += 1
                else:
                    failed += q in self.bad
                walls.append(time.perf_counter() - tq)
                drain_pins()
        wall = time.perf_counter() - t0
        cpu = self.ctx.cpu_s() - cpu0
        if tracer is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        res = PassResult(sum(walls), walls, self.input_rows,
                         len(CATALOG_QUERIES), failed, cpu_s=cpu,
                         problems=problems)
        if tracer is not None:
            res.layers = self._layers(tracer, root, tag, wall)
        return res

    def isolation(self) -> dict[str, float]:
        return {}  # no executor-side sink layers on this workload

    def _layers(self, tracer: Tracer, root, tag: int,
                wall: float) -> dict[str, float]:
        tot = tracer.totals(root)
        groups = [f"{q}:{p}:{tag}" for q in CATALOG_QUERIES
                  for p in ("construct", "exec")]
        counters = self.ctx.rest.group_counters(groups)
        out: dict[str, float] = {"trace.unattributed_s": wall - sum(
            tot[f"{q}.{p}"] for q in CATALOG_QUERIES
            for p in ("construct", "exec"))}
        spark = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for q in CATALOG_QUERIES:
            c = counters[f"{q}:construct:{tag}"]
            e = counters[f"{q}:exec:{tag}"]
            out[f"{q}.construct_s"] = tot[f"{q}.construct"]
            out[f"{q}.exec_s"] = tot[f"{q}.exec"]
            out[f"{q}.construct_jobs"] = c["jobs"]
            out[f"{q}.jobs"] = c["jobs"] + e["jobs"]
            for k in ("shuffle_bytes", "executor_cpu_s", "spill_bytes"):
                out[f"{q}.{k}"] = c[k] + e[k]
            for k in ("jobs", "tasks", "executor_cpu_s", "gc_s"):
                spark[f"spark.{k}"] += c[k] + e[k]
        out.update(spark)
        return out


WORKLOADS = {w.name: w for w in (EtlBulkCopy, EtlSmallBatches, CatalogCuration)}
