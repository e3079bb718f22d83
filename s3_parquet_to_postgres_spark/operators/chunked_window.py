"""Chunk-and-stitch order-dependent per-key windows — the straggler
mitigation for pathologically hot keys.

``Window.partitionBy(user).orderBy(ts)`` puts EVERY row of one key
through one task. At 100 TB a single key with billions of rows
(a bot, a default/null user id, an instrumentation firehose) turns a
per-key window into a one-task straggler that no amount of cluster
buys back. These operators split each key's timeline into TIME
BUCKETS, compute the order-dependent state per (key, bucket) — each
task bounded by one bucket's rows — then stitch buckets with a second
window over the per-bucket SUMMARY table (one row per (key, bucket),
data-volume-independent).

Primitives: running sums (`chunked_cumsum`), gap sessionization
(`sessionize_chunked`), lag-1 (`chunked_lag`), running non-null carry
(`chunked_last_carry`), bounded ROWS-frame lists
(`chunked_frame_list` — windowed folds like EWMA, rolling stats,
lag-k chains), and trailing RANGE-frame aggregates
(`chunked_range_agg` — ghost-row stitch, sliding time lookbacks).
Results are bit-identical to the single-task window at
any bucket width (pinned by tests/test_chunked_window.py against the
plain window on a pathological 80 %-of-rows key, across widths from
narrower-than-gap to one-bucket-degenerate).

Opt-in: the catalog's per-user windows (event_sessionize,
event_running_unique, streaks) keep their plain formulation — at
their audited shuffle sizes the extra bucket join costs more than it
saves. Reach for these when a key's row count approaches what one
task can sort.

Cost model (see PLANS.md `event_sessionize_chunked`): the summary
branch re-derives the local stage — Catalyst does not dedupe a DAG's
shared subplan — so the fact is scanned and bucket-shuffled twice.
Deliberate: the rows are corpus-sized, and recomputing one extra
scan+shuffle beats checkpointing a corpus to disk; both derivations
are fully parallel, which is the point versus the one-task sort they
replace.

Reference parity note: the reference engine has no windowed analytics
at all (src/ is row-at-a-time ETL); this module exists for the 100 TB
posture of OUR window surface.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.epoch import epoch_us

_BKT = "__cw_bucket"
_LOC = "__cw_local"
_OFF = "__cw_offset"
_MRG = "__cw_merged"


def _null_safe_join(rows: DataFrame, summary: DataFrame,
                    keys: Sequence[str]) -> DataFrame:
    """Join per-row data to its (key..., bucket) summary with
    NULL-SAFE key equality. A plain name-equi-join drops NULL-key
    rows (NULL != NULL), silently diverging from the window being
    replaced — and a NULL key (null user id) is precisely the hot-key
    case these operators exist for. The summary side is renamed so
    the eqNullSafe condition is unambiguous, then dropped."""
    renamed = summary.select(
        *[F.col(c).alias(f"__cw_r_{c}") for c in keys],
        *[F.col(c) for c in summary.columns if c not in keys],
    )
    cond = None
    for c in keys:
        e = rows[c].eqNullSafe(renamed[f"__cw_r_{c}"])
        cond = e if cond is None else cond & e
    return rows.join(renamed, cond).drop(
        *[f"__cw_r_{c}" for c in keys]
    )


def _bucketed(df: DataFrame, ts_col: str, bucket_width_sec: float) -> DataFrame:
    """Stamp the deterministic time bucket: floor(epoch_us / width_us).
    Bucketing by VALUE (not row position) is what makes the split
    reproducible without a global per-key sort."""
    # round, not int(): truncation would let a float artifact (e.g.
    # 8.2 * 1e6 = 8199999.999...) silently shift bucket boundaries by
    # a microsecond versus the caller's intent.
    width_us = round(bucket_width_sec * 1_000_000)
    if width_us <= 0:
        raise ValueError(f"bucket_width_sec must be > 0, got {bucket_width_sec}")
    return df.withColumn(
        _BKT, F.floor(epoch_us(df, ts_col) / F.lit(width_us)).cast("long")
    )


def chunked_cumsum(
    df: DataFrame,
    partition_cols: Sequence[str],
    ts_col: str,
    value_col: Column | str,
    out: str,
    bucket_width_sec: float,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Running SUM(value) per key ordered by (ts, *tiebreaks) — the
    ``sum(x) OVER (PARTITION BY key ORDER BY ts ROWS UNBOUNDED
    PRECEDING)`` shape (cumulative counts, running totals,
    running-unique via first-occurrence flags) — with every task
    bounded by one time bucket.

    Three stages, none keyed on the bare hot key:
    1. local running sum per (key, bucket) — hash-partitioned on the
       COMPOSITE key, so a hot key spreads across its buckets;
    2. per-bucket totals stitched by a window over the summary table
       (rows = #non-empty buckets per key, independent of row count);
    3. offsets joined back on (key, bucket).

    ``(ts, *tiebreak_cols)`` must totally order rows within a key or
    the cumulative values at ties are nondeterministic — same
    contract as the plain window it replaces.

    NULL semantics match the window exactly: SUM skips NULL values,
    and a row whose whole frame is NULL-valued gets NULL. The stitch
    is null-aware — a NULL local prefix falls back to the prior
    buckets' total, and to NULL only when no prior bucket contributed
    a non-null value.
    """
    partition_cols = list(partition_cols)
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    b = _bucketed(df, ts_col, bucket_width_sec).withColumn("__cw_val", val)

    w_local = (
        Window.partitionBy(*partition_cols, _BKT)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = b.withColumn(_LOC, F.sum("__cw_val").over(w_local))

    totals = local.groupBy(*partition_cols, _BKT).agg(
        F.sum("__cw_val").alias("__cw_total")
    )
    w_buckets = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(_BKT).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # _OFF = sum of prior bucket totals (SUM-over-window already
    # skips all-NULL buckets); the has-prior flag distinguishes
    # "prior buckets summed to nothing" from "no non-null prior at
    # all" so NULL local prefixes resolve exactly like the window.
    # One named window column, then derive (r11): referencing the
    # window expression twice in a single select extracts TWO sum
    # window expressions into the Window node.
    priored = totals.withColumn(
        "__cw_prior", F.sum("__cw_total").over(w_buckets)
    )
    offsets = priored.select(
        *partition_cols,
        _BKT,
        F.coalesce(F.col("__cw_prior"), F.lit(0)).alias(_OFF),
        F.col("__cw_prior").isNotNull().alias("__cw_has_prior"),
    )
    stitched_val = (
        F.when(
            F.col(_LOC).isNull() & ~F.col("__cw_has_prior"), F.lit(None)
        )
        .when(F.col(_LOC).isNull(), F.col(_OFF))
        .otherwise(F.col(_LOC) + F.col(_OFF))
    )
    return (
        _null_safe_join(local, offsets, partition_cols + [_BKT])
        .withColumn(out, stitched_val)
        .drop(_BKT, _LOC, _OFF, "__cw_has_prior", "__cw_val")
    )


def sessionize_chunked(
    df: DataFrame,
    partition_cols: Sequence[str],
    ts_col: str,
    gap_sec: float,
    bucket_width_sec: float,
    out: str = "session_id",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Gap-based session ids per key — ``new session when
    ts - lag(ts) >= gap`` (the event_sessionize / F.session_window
    semantics) — with bounded per-task state.

    Stitch logic: sessionize each (key, bucket) locally (bucket's
    first row opens local session 1), summarize each bucket as
    (first_ts, last_ts, n_local_sessions), then one window over the
    summary decides per bucket whether its first local session
    CONTINUES the previous bucket's last session
    (first_ts - lag(last_ts) < gap) and prefix-sums the effective
    session counts into a starting offset. A session spanning k
    buckets merges k-1 times and is counted once — global ids come
    out identical to the single-task ``sum(new_session) OVER
    (PARTITION BY key ORDER BY ts)``.

    Returns the input rows plus ``out`` (1-based session id per key).

    Precondition: ``ts_col`` must be non-null — a session of an
    unknown timestamp is not meaningful, and the plain window's
    nulls-first ordering quirk is not a contract worth replicating.
    (NULL partition KEYS are fully supported; see _null_safe_join.)
    """
    partition_cols = list(partition_cols)
    gap_us = int(gap_sec * 1_000_000)
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    b = _bucketed(df, ts_col, bucket_width_sec).withColumn(
        "__cw_us", epoch_us(df, ts_col)
    )

    w_local = Window.partitionBy(*partition_cols, _BKT).orderBy(*order)
    new_local = (
        F.lag("__cw_us").over(w_local).isNull()
        | (F.col("__cw_us") - F.lag("__cw_us").over(w_local) >= F.lit(gap_us))
    ).cast("long")
    local = b.withColumn(
        _LOC,
        F.sum(new_local).over(
            w_local.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    summary = local.groupBy(*partition_cols, _BKT).agg(
        F.min("__cw_us").alias("__cw_first"),
        F.max("__cw_us").alias("__cw_last"),
        F.max(_LOC).alias("__cw_nloc"),
    )
    w_buckets = Window.partitionBy(*partition_cols).orderBy(F.col(_BKT).asc())
    merged = (
        F.lag("__cw_last").over(w_buckets).isNotNull()
        & (F.col("__cw_first") - F.lag("__cw_last").over(w_buckets)
           < F.lit(gap_us))
    ).cast("long")
    stitched = summary.withColumn(_MRG, merged).withColumn(
        _OFF,
        F.coalesce(
            F.sum(F.col("__cw_nloc") - F.col(_MRG)).over(
                w_buckets.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(*partition_cols, _BKT, _MRG, _OFF)
    return (
        _null_safe_join(local, stitched, partition_cols + [_BKT])
        .withColumn(
            out, (F.col(_LOC) + F.col(_OFF) - F.col(_MRG)).cast("long")
        )
        .drop(_BKT, _LOC, _OFF, _MRG, "__cw_us")
    )


def _boundary_summary(
    local: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    take_last_row: bool,
    summary_source: str,
) -> DataFrame:
    """One row per (key, bucket): the value of ``summary_source`` at
    the bucket's boundary row (last row by ``order_cols`` when
    ``take_last_row`` else first), taken VERBATIM — a NULL there is a
    real observation (lag semantics), not something to skip.

    Implemented as one ``max_by``/``min_by`` aggregation over a struct
    of the order keys instead of a reverse-sort + row_number window
    (r11, guide §2.4): the input is already hash-partitioned on
    (key..., bucket) by the local window's exchange, so the aggregate
    adds NO exchange and NO second sort — the old form re-sorted every
    (key, bucket) descending just to pick one row. Struct comparison
    ranks a NULL field lowest, exactly the window's ASC NULLS FIRST;
    the struct itself is never NULL so no row is skipped, and
    max_by/min_by carry the boundary row's value verbatim (a NULL
    value stays NULL)."""
    pick = F.max_by if take_last_row else F.min_by
    ord_struct = F.struct(*[F.col(c) for c in order_cols])
    return local.groupBy(*partition_cols, _BKT).agg(
        pick(F.col(summary_source), ord_struct).alias("__cw_sum_val")
    )


def chunked_lag(
    df: DataFrame,
    partition_cols: Sequence[str],
    ts_col: str,
    value_col: Column | str,
    out: str,
    bucket_width_sec: float,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact ``lag(value) OVER (PARTITION BY key ORDER BY ts,
    *tiebreaks)`` with every task bounded by one time bucket — the
    boundary-carry primitive for the lag/lead per-key window class
    (streaks, gap interpolation, compiled CEP lead chains, paths).

    Stitch: lag within each (key, bucket); each bucket's FIRST row
    instead takes the previous non-empty bucket's LAST row's value,
    carried verbatim through the one-row-per-bucket summary — so a
    NULL observation lags as NULL exactly like the plain window, and
    only a key's very first row gets the no-previous-row NULL. The
    carry chain copies values, no arithmetic: bit-equal at any bucket
    width. ``lead`` is this function under reversed sort keys.

    ``(ts, *tiebreak_cols)`` must totally order rows within a key —
    the same contract as the window it replaces.
    """
    partition_cols = list(partition_cols)
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    b = _bucketed(df, ts_col, bucket_width_sec).withColumn("__cw_val", val)

    w_local = Window.partitionBy(*partition_cols, _BKT).orderBy(*order)
    local = b.withColumn(_LOC, F.lag("__cw_val").over(w_local)).withColumn(
        "__cw_rn", F.row_number().over(w_local)
    )

    summary = _boundary_summary(
        local, partition_cols, [ts_col, *tiebreak_cols],
        take_last_row=True, summary_source="__cw_val",
    )
    w_buckets = Window.partitionBy(*partition_cols).orderBy(F.col(_BKT).asc())
    carry = summary.select(
        *partition_cols, _BKT,
        F.lag("__cw_sum_val").over(w_buckets).alias("__cw_carry"),
    )
    stitched = F.when(
        F.col("__cw_rn") == 1, F.col("__cw_carry")
    ).otherwise(F.col(_LOC))
    return (
        _null_safe_join(local, carry, partition_cols + [_BKT])
        .withColumn(out, stitched)
        .drop(_BKT, _LOC, "__cw_rn", "__cw_carry", "__cw_val")
    )


def chunked_frame_list(
    df: DataFrame,
    partition_cols: Sequence[str],
    ts_col: str,
    value_col: Column | str,
    out: str,
    frame_rows: int,
    bucket_width_sec: float,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact ``collect_list(value) OVER (PARTITION BY key ORDER BY
    ts, *tiebreaks ROWS BETWEEN frame_rows-1 PRECEDING AND CURRENT
    ROW)`` with every task bounded by one time bucket — the bounded
    ROWS-frame primitive for windowed folds (EWMA smoothing, rolling
    stats over the last k observations, lag-k chains: ``lag(v, j)``
    is element ``size-j`` of a ``frame_rows > j`` list).

    Stitch: the frame list within each (key, bucket) is complete
    from local row ``frame_rows`` onward; earlier rows are missing up
    to ``frame_rows-1`` leading rows that live in PRIOR buckets. Each
    bucket summarizes its last ``min(n, frame_rows-1)`` rows; the
    true trailing rows of ALL prior buckets are then the tail of the
    last ``frame_rows-1`` prior summaries' tails concatenated in
    bucket order (every non-empty bucket holds >= 1 row, so older
    buckets cannot contribute), a BOUNDED ROWS frame over the
    one-row-per-bucket summary table. Rows are carried as structs so
    a NULL observation keeps its positional slot in the row frame
    (bare ``collect_list`` drops NULL elements — a frame is
    positional, so the drop must happen AFTER assembly, exactly
    where the plain window does it). Value copying only — bit-equal
    to the single-task window at any bucket width.

    Each bucket's tail is read off the boundary row's own frame list
    in the local window stage. Catalyst does not dedupe the DAG's
    shared subplan, so this RE-DERIVES the local stage: the fact is
    scanned, bucket-shuffled and SORTED twice (the module cost model;
    the summary-branch twins pay 2-7x a plain window on uniform data,
    measured in SCALE_CHECK.md). A ghost-row stitch
    (chunked_range_agg's trick) is NOT applicable to ROWS frames: a
    k-row frame has no value-based containment bound, so on a sparse
    key it reaches back arbitrarily many buckets and one-bucket ghost
    context would be silently wrong there.

    ``(ts, *tiebreak_cols)`` must totally order rows within a key —
    the same contract as the window it replaces.
    """
    if frame_rows < 1:
        raise ValueError(f"frame_rows must be >= 1, got {frame_rows}")
    partition_cols = list(partition_cols)
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    drop_nulls = lambda lst: F.transform(  # noqa: E731
        F.filter(lst, lambda x: x["v"].isNotNull()), lambda x: x["v"]
    )

    if frame_rows == 1:
        # Frame = own row: a narrow projection, no window/shuffle.
        return df.withColumn(
            out, F.filter(F.array(val), lambda x: x.isNotNull())
        )

    k = frame_rows
    b = _bucketed(df, ts_col, bucket_width_sec).withColumn(
        "__cw_row", F.struct(val.alias("v"))
    )
    w_local = Window.partitionBy(*partition_cols, _BKT).orderBy(*order)
    local = b.withColumn(
        _LOC,
        F.collect_list("__cw_row").over(w_local.rowsBetween(-(k - 1), 0)),
    )

    # Bucket tail: last min(n, k-1) struct rows of each (key, bucket):
    # the boundary row's frame list minus its oldest row when the frame
    # is full (the boundary row itself stays: it is the next bucket's
    # immediate predecessor), sliced AFTER the one-row-per-bucket pick.
    s = F.size(F.col("__cw_sum_val"))
    m = F.least(s, F.lit(k - 1))
    summary = _boundary_summary(
        local, partition_cols, [ts_col, *tiebreak_cols],
        take_last_row=True, summary_source=_LOC,
    ).withColumn(
        "__cw_sum_val", F.slice(F.col("__cw_sum_val"), s - m + 1, m)
    )
    w_buckets = Window.partitionBy(*partition_cols).orderBy(F.col(_BKT).asc())
    # One named window column, then derive: inlining the window
    # expression into the when/slice below would extract SIX identical
    # collect_list window expressions (one per reference) into the
    # Window node (r11 plan evidence); a withColumn keeps it at one.
    flattened = summary.withColumn(
        "__cw_flat",
        F.flatten(
            F.collect_list("__cw_sum_val").over(
                w_buckets.rowsBetween(-(k - 1), -1)
            )
        ),
    )
    fs = F.size(F.col("__cw_flat"))
    fm = F.least(fs, F.lit(k - 1))
    carry = flattened.select(
        *partition_cols, _BKT,
        F.when(fs == 0, F.col("__cw_flat"))
        .otherwise(F.slice(F.col("__cw_flat"), fs - fm + 1, fm))
        .alias("__cw_carry"),
    )

    # carry ++ local prefix, keep the trailing min(total, k): for a
    # locally-complete frame (rn >= k) this IS the local list; for an
    # opening row it prepends exactly the missing prior-bucket rows.
    joined = _null_safe_join(local, carry, partition_cols + [_BKT])
    full = F.concat(F.col("__cw_carry"), F.col(_LOC))
    fl = F.size(full)
    need = F.least(fl, F.lit(k))
    framed = F.slice(full, fl - need + 1, need)
    return (
        joined.withColumn(out, drop_nulls(framed))
        .drop(_BKT, _LOC, "__cw_row", "__cw_carry")
    )


def chunked_last_carry(
    df: DataFrame,
    partition_cols: Sequence[str],
    ts_col: str,
    value_col: Column | str,
    out: str,
    bucket_width_sec: float,
    tiebreak_cols: Sequence[str] = (),
    forward: bool = True,
) -> DataFrame:
    """Running non-null carry per key — ``last(value, ignorenulls)
    OVER (... ROWS UNBOUNDED PRECEDING..CURRENT)`` when ``forward``,
    else ``first(value, ignorenulls) OVER (... CURRENT..UNBOUNDED
    FOLLOWING)`` — with every task bounded by one time bucket. The
    gap-fill primitive: forward = last observation carried forward,
    backward = next observation carried backward;
    event_gapfill_interp_chunked uses one of each over (day, value)
    structs.

    Stitch: running carry within each (key, bucket); rows with no
    observation yet in their own bucket coalesce to the latest
    non-null boundary carry among PRIOR buckets (earliest among
    FOLLOWING buckets when backward). The summarized value is the
    boundary row's LOCAL carry — the bucket's latest/earliest
    non-null — so a bucket of all-NULL observations contributes
    nothing, exactly like the window's ignorenulls. Value-copying
    only: bit-equal at any bucket width.
    """
    partition_cols = list(partition_cols)
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    b = _bucketed(df, ts_col, bucket_width_sec).withColumn("__cw_val", val)

    w_local = Window.partitionBy(*partition_cols, _BKT).orderBy(*order)
    if forward:
        local_carry = F.last("__cw_val", ignorenulls=True).over(
            w_local.rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        local_carry = F.first("__cw_val", ignorenulls=True).over(
            w_local.rowsBetween(0, Window.unboundedFollowing)
        )
    local = b.withColumn(_LOC, local_carry)

    summary = _boundary_summary(
        local, partition_cols, [ts_col, *tiebreak_cols],
        take_last_row=forward, summary_source=_LOC,
    )
    w_buckets = Window.partitionBy(*partition_cols).orderBy(F.col(_BKT).asc())
    if forward:
        carry_col = F.last("__cw_sum_val", ignorenulls=True).over(
            w_buckets.rowsBetween(Window.unboundedPreceding, -1)
        )
    else:
        carry_col = F.first("__cw_sum_val", ignorenulls=True).over(
            w_buckets.rowsBetween(1, Window.unboundedFollowing)
        )
    carry = summary.select(
        *partition_cols, _BKT, carry_col.alias("__cw_carry")
    )
    return (
        _null_safe_join(local, carry, partition_cols + [_BKT])
        .withColumn(out, F.coalesce(F.col(_LOC), F.col("__cw_carry")))
        .drop(_BKT, _LOC, "__cw_carry", "__cw_val")
    )


def chunked_range_agg(
    df: DataFrame,
    partition_cols: Sequence[str],
    ts_col: str,
    aggs: dict[str, Column],
    range_sec: float,
) -> DataFrame:
    """Exact trailing RANGE-frame aggregates per key — ``agg(...)
    OVER (PARTITION BY key ORDER BY epoch_us(ts) RANGE BETWEEN
    range_sec PRECEDING AND CURRENT ROW)`` for any set of aggregate
    expressions — with every task bounded by ~2 time buckets of one
    key (the sliding-lookback shape: attribution lookbacks, trailing
    rate counters, moving min/max over a time horizon).

    Ghost-row stitch, no summary pass: buckets are ``range_sec``
    wide, so every row's trailing frame lives entirely in its own
    bucket or the one before. Each row is therefore shipped TWICE —
    once to its own bucket, once as read-only context to the next —
    and the range window runs locally per (key, bucket) over
    own+context rows; only own rows are kept. Frame membership is
    decided by the same microsecond range predicate as the global
    window (ties in the order key are all frame-mates in a RANGE
    frame, so no tiebreak contract is needed), making every
    aggregate value bit-identical to the global window. Cost
    model differs from the other primitives here: 2x the shuffled
    rows instead of a second scan+shuffle derivation — cheaper than
    the summary-branch operators, and the worst task is 2 buckets of
    the hottest key instead of ALL of it.

    ``aggs`` maps output column name -> aggregate Column (e.g.
    ``F.count(x)``, ``F.min(x)``); each is applied ``.over()`` the
    local frame. Precondition: ``ts_col`` non-null (a frame anchored
    at an unknown instant is not meaningful).
    """
    partition_cols = list(partition_cols)
    reserved = set(df.columns) | {_BKT, "__cw_us", "__cw_ghost"}
    for name in aggs:
        if name in reserved:
            raise ValueError(
                f"aggs key {name!r} collides with an input column or "
                "a reserved __cw_* helper name; alias the aggregate "
                "to a fresh output column"
            )
    # round, not int(): a float artifact (8.2 * 1e6 = 8199999.999...)
    # must not silently shrink the frame by a microsecond versus a
    # hand-written rangeBetween(-N, 0) of the same nominal width.
    range_us = round(range_sec * 1_000_000)
    b = _bucketed(df, ts_col, range_sec).withColumn(
        "__cw_us", epoch_us(df, ts_col)
    )
    own = b.withColumn("__cw_ghost", F.lit(False))
    ghost = b.withColumn(_BKT, F.col(_BKT) + F.lit(1)).withColumn(
        "__cw_ghost", F.lit(True)
    )
    u = own.unionByName(ghost)
    w = (
        Window.partitionBy(*partition_cols, _BKT)
        .orderBy(F.col("__cw_us").asc())
        .rangeBetween(-range_us, 0)
    )
    # One select, not a withColumn-per-agg loop: all aggregates share
    # the window spec, so this plans as a SINGLE Window node over the
    # one Sort instead of one Window pass per aggregate.
    u = u.select(
        "*", *[agg.over(w).alias(name) for name, agg in aggs.items()]
    )
    return u.filter(~F.col("__cw_ghost")).drop(
        _BKT, "__cw_us", "__cw_ghost"
    )
