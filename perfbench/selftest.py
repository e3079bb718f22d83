"""Self-test of the benchmark: tiny inputs, every metric, the gates.

    python3 perfbench/selftest.py

Run from the root of a checkout (about four minutes on 4 cores). It
checks that

* every workload the command accepts (those in ``BENCHMARK.json`` and
  ``etl_small_batches``), untraced and traced, prints a last line with
  exactly the keys ``correct``, ``attempted``, ``failed`` and
  ``metrics``, and every metric ``BENCHMARK.json`` names for that mode,
  with its unit;
* dropping rows before the sink is caught by the correctness gate;
* the stored catalog answers match DuckDB's ``oracle_sql()`` on inputs
  made from another seed;
* in a directory holding only ``BENCHMARK.json`` and ``perfbench/``,
  the command fails without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def _run(argv: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    r = subprocess.run(argv, cwd=cwd, capture_output=True, text=True,
                       timeout=300)
    if r.returncode != 0:
        print(r.stderr[-3000:], file=sys.stderr)
    return r.returncode, r.stdout.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for name in WORKLOADS:
        for trace in (0, 1):
            what = f"{name} --trace {trace}"
            rc, out = _run(RUN + ["--workload", name, "--seed", "3",
                                  "--seconds", "1", "--trace", str(trace),
                                  "--tiny"])
            if rc != 0 or not out:
                check(False, f"{what}: exit {rc}")
                continue
            res = json.loads(out[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{what}: result keys")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == wanted[trace], f"{what}: metric names and units")
            check(res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 1, f"{what}: all outputs correct")

    rc, out = _run(RUN + ["--workload", "etl_bulk_copy", "--seed", "3",
                          "--seconds", "1", "--tiny", "--drop-row"])
    res = json.loads(out[-1]) if rc == 0 and out else {}
    check(res.get("correct") is False and res.get("failed", 0) > 0,
          "a dropped row fails the gate")

    rc, _ = _run([sys.executable, os.path.join("perfbench", "oracle.py"),
                  "--check", "tiny", "--seed", "5"])
    check(rc == 0, "stored catalog answers match the DuckDB oracle")

    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, out = _run(RUN + ["--workload", "etl_bulk_copy", "--seed", "1",
                              "--seconds", "1", "--trace", "0"], cwd=bare)
        check(rc != 0 and not out, "fails without the engine's sources")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        parent = os.path.dirname(bare)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
