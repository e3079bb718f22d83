"""Distributed exact global ranking without a single-task Window.

``Window.orderBy(...)`` with no ``partitionBy`` funnels the whole
input through ONE task — the classic 100 TB scale-killer. But many
exact analytics (ntile quintiles, global row numbers, position-based
sampling) are defined in terms of a row's position in a TOTAL order,
which IS computable distributed:

1. ``repartitionByRange`` on the order keys — each partition owns a
   contiguous, disjoint key range, every task bounded by one slice.
   The stamped ``spark_partition_id`` is pinned with a lazy
   localCheckpoint so the two downstream jobs (count, rank) see
   identical partition boundaries (the RangePartitioner samples its
   boundaries per-RDD; without the pin, re-derivation could re-sample
   them differently between jobs).
2. One bounded collect — ONE row per partition (≤ num_partitions,
   never data-sized) — prefix-summed driver-side into start offsets.
3. Per-partition ``row_number`` (Window partitioned by the stamped
   id) plus the broadcast offset map.

The result is bit-identical to ``row_number() OVER (ORDER BY ...)``
on a total order, at any scale. ``ntile_from_row_number`` then
reproduces ANSI ``ntile(n)`` exactly from (row, N): the first
``N mod n`` buckets take ``ceil(N/n)`` rows, the rest ``floor(N/n)``
— position-based, so metric ties across a boundary land exactly
where the single-task ntile would put them.
"""

from __future__ import annotations

import logging
from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.layout import shuffle_partitions

_PID = "__grn_pid"

_LOG = logging.getLogger(__name__)
_warned_pin_unavailable = False

# Every live checkpoint-pin handle, append order. release_pinned()
# removes the one it frees; drain_pins() empties the lot. Without the
# registry a long-running session (a bench loop, a plan sweep, the
# invariance harness) that constructs ml_rfm_segments-style plans
# repeatedly would accumulate one pinned per-user-rollup RDD per
# construction for the session lifetime -- the FINAL ranking's pin has
# no release point inside the plan function (its DataFrame is returned
# lazily), so the session boundary between queries is where it drains.
_live_pins: list = []


def _acquire_pin_handle(stamped: DataFrame):
    """The JavaRDD handle of a lazily-localCheckpointed DataFrame's
    pinned blocks — the ONLY private-API touch in this module,
    isolated here so tests can break it and pin the fallback."""
    return stamped._jdf.queryExecution().optimizedPlan().rdd()


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[Column],
    out: str = "rn",
    num_partitions: int | None = None,
) -> Tuple[DataFrame, int]:
    """Exact 1-based global row_number over a TOTAL order.

    ``order_cols`` must be a total order (include a unique tiebreak
    column) or the assigned numbers are still a valid ranking but not
    deterministic. Returns ``(df_with_out_column, total_row_count)``
    — the count is free (it is the sum of the per-partition counts
    phase 2 collects anyway).

    Cost: one range shuffle + one tiny count job + one hash shuffle
    on the partition id (each task bounded by one range slice). The
    input is checkpoint-pinned, so callers chaining several rankings
    over the same table pay one materialization per call, not a
    re-derivation of the whole upstream tree per job.
    """
    if num_partitions is None:
        num_partitions = shuffle_partitions(df.sparkSession)
    stamped = (
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = sorted(
        (r[_PID], r["c"])
        for r in stamped.groupBy(_PID).agg(F.count("*").alias("c"))
        .collect()  # bounded: one row per partition
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    if offsets:
        off_map = F.create_map(
            *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
        )
        off = F.element_at(off_map, F.col(_PID))
    else:  # empty input: no rows to number
        off = F.lit(0)
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    out_df = stamped.withColumn(
        out, (F.row_number().over(w) + off).cast("long")
    ).drop(_PID)
    # Handle to the pinned checkpoint blocks, for release_pinned():
    # callers chaining several rankings can free ranking N-1's blocks
    # once ranking N has materialized (N's checkpoint truncates the
    # lineage, so N-1 is never read again). The handle rides on the
    # RETURNED DataFrame (later transformations yield new frames
    # without it -- release the object this function returned) and in
    # the module pin registry for drain_pins(). Best-effort
    # private-API touch: tests/test_ranking.py::
    # test_chained_rankings_release_predecessor_blocks is the TRIPWIRE
    # if a Spark upgrade breaks the attribute path, and
    # test_pin_handle_unavailable_falls_back pins the fallback --
    # "no early release" (a memory posture, never a correctness
    # change), logged once per process so the degradation is
    # observable instead of silent.
    handle = register_pin(stamped, "global_row_number")
    if handle is not None:
        out_df._grn_pinned = handle
    return out_df, acc


def register_pin(df: DataFrame, who: str):
    """Add a localCheckpointed frame's pinned blocks to the registry
    ``drain_pins()`` empties, and return the handle. When the private
    handle path is unavailable, return None and log the degradation
    once per process: no early release, the blocks live until session
    GC."""
    global _warned_pin_unavailable
    try:
        handle = _acquire_pin_handle(df)
    except Exception as e:
        if not _warned_pin_unavailable:
            _warned_pin_unavailable = True
            _LOG.warning(
                "%s: checkpoint pin handle unavailable (%s: %s); early "
                "release disabled, pinned blocks live until session GC",
                who, type(e).__name__, e,
            )
        return None
    _live_pins.append(handle)
    return handle


def release_pinned(ranked: DataFrame) -> None:
    """Free the checkpoint blocks pinned by a ``global_row_number``
    result. ONLY safe when ``ranked`` will never be computed again —
    i.e. after a later ranking chained from it has materialized its
    own checkpoint (lineage is truncated there, so the released
    blocks are unreachable from the final plan). Reading ``ranked``
    itself after release raises (localCheckpoint lineage is gone);
    that loud failure is the intended contract, not a recompute.
    """
    rdd = getattr(ranked, "_grn_pinned", None)
    if rdd is not None:
        for i, h in enumerate(_live_pins):
            if h is rdd:
                del _live_pins[i]
                break
        try:
            rdd.unpersist(False)
        except Exception:
            pass


def drain_pins() -> int:
    """Release EVERY outstanding ``global_row_number`` checkpoint pin.
    For long-running sessions between independent queries (bench
    loops, plan sweeps, the oracle harness): safe once the previous
    query's results are fully materialized and none of its DataFrames
    will be computed again. Returns the number of pins released."""
    n = len(_live_pins)
    while _live_pins:
        rdd = _live_pins.pop()
        try:
            rdd.unpersist(False)
        except Exception:
            pass
    return n


def ntile_from_row_number(rn: Column, n_buckets: int, total: int) -> Column:
    """The ANSI ``ntile(n_buckets)`` bucket of the row whose global
    1-based row number is ``rn``, in a table of ``total`` rows —
    pure per-row arithmetic against two driver-known constants.

    ntile semantics: with q = total div n and rem = total mod n, the
    first ``rem`` buckets hold ``q+1`` rows, the remaining hold ``q``.
    """
    q, rem = divmod(int(total), int(n_buckets))
    thr = rem * (q + 1)
    first = (rn - 1) / F.lit(q + 1)
    if q == 0:
        # total < n_buckets: every row is its own bucket (all rows
        # fall in the first `rem` buckets); the else-branch would
        # divide by zero.
        return F.floor(first).cast("long") + 1
    rest = (rn - F.lit(thr) - 1) / F.lit(q)
    return (
        F.when(rn <= F.lit(thr), F.floor(first) + 1)
        .otherwise(F.lit(rem) + F.floor(rest) + 1)
        .cast("long")
    )
