"""Per-job/per-stage wall-time profile for one catalog query at sf0.1.

Runs the named query end-to-end (noop sink) N times with the Spark
event log on, then prints per-stage wall, task-time sum, shuffle
bytes/records, and the stage's first RDD scope name -- the evidence
for "where does this query's wall actually go" claims (guide §1).

Usage: python tools/profile_query.py <query> [reps=2]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from s3_parquet_to_postgres_spark.plans import all_queries  # noqa: E402
from s3_parquet_to_postgres_spark.session import build_session  # noqa: E402
from tools import eventlog  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    log_dir = tempfile.mkdtemp(prefix="spark-prof-")
    spark = build_session(
        "profile",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
        extra_confs={**eventlog.confs(log_dir), "spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    force(queries["ref_count"](spark, SF_DIR))  # warm-up
    from s3_parquet_to_postgres_spark.operators.ranking import drain_pins

    walls = []
    for i in range(reps):
        spark.sparkContext.setJobGroup(f"rep{i}", name)
        t0 = time.perf_counter()
        force(queries[name](spark, SF_DIR))
        walls.append(time.perf_counter() - t0)
        drain_pins()
    spark.stop()

    print(f"{name}: walls={['%.3f' % w for w in walls]}")

    # The LAST rep's job group.
    g = eventlog.job_groups(log_dir)[f"rep{reps - 1}"]
    jobs, stages = g["jobs"], g["stages"]
    per_stage: dict[int, list[int]] = {}
    for t in g["tasks"]:
        acc = per_stage.setdefault(t.stage, [0, 0, 0])
        acc[0] += t.shuffle_bytes
        acc[1] += t.shuffle_records
        acc[2] += t.run_ms

    for jid in sorted(jobs):
        j = jobs[jid]
        jw = (j.get("end", 0) - j.get("sub", 0)) / 1e3
        print(f"job {jid}: {jw:.3f}s")
        for sid in sorted(s for s, st in stages.items() if st["job"] == jid):
            st = stages[sid]
            nbytes, recs, task_ms = per_stage.get(sid, (0, 0, 0))
            print(
                f"  stage {sid} [{st['tasks']}t] wall={st['wall']:.3f}s"
                f" taskms={task_ms} shuf={nbytes / 1e6:.2f}MB"
                f"/{recs}r  {st['name'][:90]}"
            )
    n_jobs = len(jobs)
    total = sum(
        (j.get("end", 0) - j.get("sub", 0)) / 1e3 for j in jobs.values()
    )
    print(f"TOTAL: {n_jobs} jobs, sum-of-job walls {total:.3f}s")


if __name__ == "__main__":
    main()
