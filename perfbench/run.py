"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_bulk_copy --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The run starts the services its
workload needs (Postgres with SCRAM and TLS, an S3 endpoint), generates
the inputs from ``--seed``, builds a ``local[nproc]`` Spark session and
makes one untimed warm-up pass; all of that is ``setup_s``. It then
repeats passes for ``--seconds`` (at least three), checks every pass's
output, and prints two JSON lines: the run's context (host, Postgres
settings, quartiles and sample counts) and, last, the result.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports
the per-layer metrics: for ``--seconds`` it alternates untraced passes
with traced ones (span recorders installed around the package's public
calls), then makes isolation calls for the executor-side layers, with
the Spark UI on so job and stage counters can be read.

Everything the run writes lives under ``.perfbench/`` in the checkout
and is removed at exit, together with every process it started.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "s3_parquet_to_postgres_spark"

# The reported value is the median over passes, so one pass slowed by
# the host, or the first pass after warm-up (JIT compilation still
# running, up to 30% slower on the catalog), cannot set it alone.
MIN_PASSES = 3

# The metrics the result line reports. The pass walls (rows_per_s,
# batch_p50_s, query_total_s) go to the context line only: on a shared
# host they follow the hypervisor's steal time (a catalog pass took 9.7 s
# at 0.7% steal and 14.6 s at 10%), so ten runs of the same code spread
# wider than any bound a regression check could use. CPU-seconds do not
# count the time a vCPU was stolen.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def quartiles(values: list[float]) -> dict[str, float]:
    if len(values) == 1:
        q1 = med = q3 = values[0]
    else:
        q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def calibration_s() -> float:
    """A fixed CPU probe that runs none of the package's code: hashing
    plus an interpreter loop, median of three."""
    block = bytes(range(256)) * 65_536
    walls = []
    for _ in range(3):
        t = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(4):
            h.update(block)
        x = 0
        for i in range(300_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        # Short: the Postgres socket lives below it (see services.py).
        self.workdir = os.path.join(ROOT, ".perfbench", str(os.getpid()))
        self.spark = None
        self.jvm = None
        self.services = None

    # -- set-up and teardown ----------------------------------------------

    def _environment(self) -> None:
        os.makedirs(os.path.join(self.workdir, "tmp"))
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.workdir, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.workdir, "tmp")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        # HotSpot writes its perf-data file under /tmp whatever
        # java.io.tmpdir says; this JVM flag turns that file off.
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        "-XX:-UsePerfData") if p)
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def _session(self, ui_port: int | None):
        from s3_parquet_to_postgres_spark.session import build_session

        confs = {
            "spark.ui.enabled": "false" if ui_port is None else "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.driver.host": "127.0.0.1",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            # A fixed-size heap: the JVM's resident size then does not
            # depend on when the collector decided to grow the heap.
            "spark.driver.extraJavaOptions":
                f"-Xms2g -Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if ui_port is not None:
            confs["spark.ui.port"] = str(ui_port)
        spark = build_session(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_confs=confs,
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.jvm = spark.sparkContext._gateway.proc
        return spark

    def close(self) -> None:
        from perfbench.procstat import descendants
        from perfbench.services import wait_gone

        started = descendants()
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # keep tearing down the rest
                print(f"spark.stop failed: {e}", file=sys.stderr)
        if self.jvm is not None:
            # The gateway JVM exits when its stdin closes.
            try:
                self.jvm.stdin.close()
                self.jvm.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                self.jvm.kill()
                self.jvm.wait(timeout=10)
        if self.services is not None:
            self.services.close()
        # The PySpark daemon and its workers leave after the JVM does.
        if not wait_gone(started):
            for pid in started:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            wait_gone(started)
        shutil.rmtree(self.workdir, ignore_errors=True)
        parent = os.path.dirname(self.workdir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # -- the run ------------------------------------------------------------

    def execute(self) -> tuple[dict, dict]:
        from perfbench.procstat import PeakMemory, ProcessTree
        from perfbench.services import Services, free_port
        from perfbench.trace import SparkRest, Tracer
        from perfbench.workloads import SIZES, WORKLOADS, Context, per_layer_names

        args = self.args
        t_setup = time.perf_counter()
        self._environment()
        cls = WORKLOADS[args.workload]
        tree = ProcessTree()
        phases = {}
        t = time.perf_counter()
        needs_s3 = cls.needs_s3 or (args.trace and cls.traced_needs_s3)
        if cls.needs_pg or needs_s3:
            self.services = Services(self.workdir)
            if cls.needs_pg:
                self.services.start_postgres()
                tree.no_memory.add(self.services.pg_proc.pid)
            if needs_s3:
                self.services.start_s3()
                tree.skip.add(self.services.s3_proc.pid)
        phases["services_s"] = time.perf_counter() - t

        scale = "tiny" if args.tiny else "full"
        t = time.perf_counter()
        ui_port = free_port() if args.trace else None
        self.spark = self._session(ui_port)
        phases["session_s"] = time.perf_counter() - t

        ctx = Context(
            workdir=self.workdir, seed=args.seed, scale=scale,
            sizes=SIZES[scale], spark=self.spark,
            services=self.services, drop_row=args.drop_row,
            rest=SparkRest(self.spark, ui_port) if args.trace else None,
            cpu_s=tree.cpu_s,
        )
        workload = cls(ctx)
        t = time.perf_counter()
        workload.prepare()
        phases["inputs_s"] = time.perf_counter() - t

        t = time.perf_counter()
        warm = workload.warm_pass()
        phases["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        calib = calibration_s()
        untraced, traced, isolation, peaks = [], [], {}, []
        steal0, total0 = cpu_jiffies()
        with PeakMemory(tree) as mem:
            if not args.trace:
                untraced, peaks = self._repeat(workload.one_pass, mem)
            else:
                # Untraced and traced passes alternate, with untraced
                # ones on both ends, so the later passes' extra warmth
                # does not read as negative tracing overhead.
                tracer = Tracer()
                t0 = time.perf_counter()
                while not traced or time.perf_counter() - t0 < args.seconds:
                    self._settle()
                    untraced.append(workload.one_pass())
                    self._settle()
                    traced.append(workload.one_pass(tracer))
                self._settle()
                untraced.append(workload.one_pass())
                isolation = workload.isolation()

        steal1, total1 = cpu_jiffies()
        passes = [warm] + untraced + traced
        attempted = sum(p.attempted for p in passes)
        failed = sum(p.failed for p in passes)
        samples: dict[str, list[float]] = {
            "setup_s": [setup_s],
            "rows_per_s": [p.rows / p.wall_s for p in untraced],
            "batch_p50_s": [u for p in untraced for u in p.unit_s],
            "query_total_s": [p.wall_s for p in untraced],
            "cpu_s": [p.cpu_s for p in untraced],
            "peak_rss_mb": peaks,
        }
        if args.trace:
            samples = {}
            for name in per_layer_names():
                vals = [p.layers[name] for p in traced if name in p.layers]
                if name in isolation:
                    vals = [isolation[name]]
                samples[name] = vals or [0.0]
            base = statistics.median(p.wall_s for p in untraced)
            samples["trace.overhead_frac"] = [
                (statistics.median(p.wall_s for p in traced) - base) / base]
            samples["host.calibration_s"] = [calib]
        units = END_TO_END if not args.trace else _per_layer_units()
        stats = {k: quartiles(v) for k, v in samples.items()}
        context = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": self.nproc, "host.calibration_s": calib,
            # Share of the vCPUs' time the hypervisor gave to other
            # guests while the passes ran: it explains slow runs.
            "host.steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "sizes": ctx.sizes, "setup_phases": phases,
            "passes": {"untraced": len(untraced), "traced": len(traced)},
            "pass_wall_s": {"warm": warm.wall_s,
                            "untraced": [p.wall_s for p in untraced],
                            "traced": [p.wall_s for p in traced]},
            "postgres": self.services.settings if self.services else None,
            "stats": stats,
            "problems": [q for p in passes for q in p.problems][:10],
        }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": stats[k]["median"], "unit": units[k]}
                        for k in units},
        }
        return context, result

    def _repeat(self, one_pass, mem) -> tuple[list, list[float]]:
        """Passes until ``--seconds`` have elapsed, and at least
        ``MIN_PASSES``; with each pass's peak resident memory."""
        out, peaks = [], []
        t0 = time.perf_counter()
        while (len(out) < MIN_PASSES
               or time.perf_counter() - t0 < self.args.seconds):
            self._settle()
            mem.take()
            out.append(one_pass())
            peaks.append(mem.take())
        return out, peaks

    def _settle(self) -> None:
        """Start every pass from the same state: collected JVM and
        Python heaps, a fresh Postgres checkpoint, and a moment for the
        JIT to finish compiling what the last pass made hot."""
        self.spark._jvm.System.gc()
        gc.collect()
        if self.services is not None and self.services.pg_proc is not None:
            self.services.pg_rows("CHECKPOINT")
        time.sleep(0.3)


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_bulk_copy", "etl_small_batches",
                             "catalog_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001-sized inputs, for the self-test")
    ap.add_argument("--drop-row", action="store_true",
                    help="drop rows of one key before the sink, so the "
                         "correctness gate must fail (self-test)")
    args = ap.parse_args(argv)
    missing = [p for p in (PACKAGE, os.path.join("tools", "live_local.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"not a checkout of the engine: missing {missing}",
              file=sys.stderr)
        return 2

    def terminate(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, terminate)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    run = Run(args)
    try:
        context, result = run.execute()
    finally:
        run.close()
    print(json.dumps(context), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
