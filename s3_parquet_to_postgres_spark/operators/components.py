"""Connected components over near-duplicate edges: pairwise matches ->
duplicate GROUPS (then one canonical survivor per group).

The dedup ladder's last step: MinHash/SimHash/Jaccard produce pairs,
but transitive matches (A~B, B~C) must collapse into one group even
when A!~C. That's a connected-components problem, solved here with
iterative hash-min label propagation on DataFrames:

  label(v) <- min(label(v), min over neighbors u of label(u))

repeated until a fixed point. Converges in O(component diameter)
iterations -- near-dup clusters are shallow (dup groups, not social
graphs), so typically <5. Each iteration is one shuffle on the node
id; ``localCheckpoint`` truncates the growing lineage so iteration N
doesn't replay iterations 1..N-1, and exposes ``max_iter`` failing
loudly rather than silently returning partial components.

For adversarial graphs (long chains, deep trees) where diameter-bound
propagation is too slow, ``connected_components_star`` implements the
two-phase large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), which
contracts components in O(log^2 n) rounds independent of diameter.
Both return the identical (id, comp) labeling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pairs import bucket_pairs


class ConvergenceError(RuntimeError):
    pass


def symmetrize(pairs: DataFrame, a: str = "id_a", b: str = "id_b",
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonical (a < b) pair list -> symmetric directed edge list,
    in ONE pass over the input subtree.

    The natural ``sel(a,b).unionAll(sel(b,a))`` embeds the pairs plan
    TWICE (Catalyst does not deduplicate a union's common subplan),
    so a checkpoint of the union materializes the (expensive —
    winnowing corpus scan) pair pipeline twice. Exploding a 2-element
    struct array emits both directions from a single subtree: same
    rows, half the upstream work. Measured on graph_pagerank's edge
    build at 16x volume: 7.9 s -> ~4 s for the checkpoint fill.
    """
    both = F.explode(F.array(
        F.struct(F.col(a).alias(src), F.col(b).alias(dst)),
        F.struct(F.col(b).alias(src), F.col(a).alias(dst)),
    ))
    return pairs.select(both.alias("__e")).select(f"__e.{src}", f"__e.{dst}")


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every node in ``edges``; component is the
    smallest node id reachable from it."""
    e = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    )
    # Undirected: keep both directions once.
    bidir = e.unionByName(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).distinct().localCheckpoint()

    labels = (
        bidir.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )

    for _ in range(max_iter):
        # Neighbor labels flow along edges; keep the min per node.
        msgs = bidir.join(
            labels.withColumnRenamed("id", "s"), "s"
        ).select(F.col("d").alias("id"), "comp")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise ConvergenceError(
        f"components did not converge in {max_iter} iterations"
    )


def _checksum(edges: DataFrame) -> tuple:
    """Order-independent fingerprint of an edge set, used as the
    fixed-point test (one tiny aggregate instead of a full anti-join
    of two big edge sets)."""
    # bit_xor, not sum: ANSI mode (Spark 4 default) makes a long-sum
    # of 64-bit hashes throw ARITHMETIC_OVERFLOW; xor is overflow-free
    # and order-independent, and edges are distinct so nothing cancels.
    row = edges.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("s", "d")).alias("h"),
        F.bit_xor(F.xxhash64("d", "s")).alias("h2"),
    ).first()
    return (row["n"], row["h"], row["h2"])


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) via alternating large-star / small-star rounds.

    Each round is two grouped aggregations on node id (no diameter
    dependence): large-star hangs every neighbor larger than the
    center off the neighborhood minimum; small-star re-parents the
    smaller neighbors. Edges strictly decrease toward a forest of
    stars whose hubs are the component minima. Round count is
    O(log^2 n) worst-case, 2-4 in practice, so deep chains that take
    label propagation O(diameter) shuffles finish in a handful.
    """
    e = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    ).filter(F.col("s") != F.col("d"))
    # Orient every edge large->small: (hi, lo) with hi > lo.
    cur = (
        e.select(
            F.greatest("s", "d").alias("s"), F.least("s", "d").alias("d")
        )
        .distinct()
        .localCheckpoint()
    )
    singletons = (
        edges.select(F.col(src).cast("long").alias("id"))
        .unionByName(edges.select(F.col(dst).cast("long").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for _ in range(max_iter):
        # Large-star, centered on u over BOTH orientations: m =
        # min(neighborhood + u); emit (v, m) for neighbors v > u.
        # min-then-join-back instead of collect_set: a mega-component
        # hub may have millions of neighbors, and neighbor ARRAYS of
        # that size break executors while a grouped min + equi-join
        # (co-partitioned on the group key) does not.
        nbrs = cur.unionByName(
            cur.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        mins = nbrs.groupBy("s").agg(
            F.least(F.min("d"), F.first("s")).alias("m")
        )
        lg = (
            nbrs.join(mins, "s")
            .filter(F.col("d") > F.col("s"))
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
            .filter(F.col("s") != F.col("d"))
            .distinct()
        )
        # Small-star, centered on u over the (u > v)-oriented edges:
        # m = min(smaller-neighbors + u); re-parent them all (and u).
        mins2 = lg.groupBy("s").agg(F.min("d").alias("m"))
        sm = (
            lg.join(mins2, "s")
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
            .unionByName(
                mins2.select(F.col("s"), F.col("m").alias("d"))
            )
            .filter(F.col("s") != F.col("d"))
            .distinct()
            .localCheckpoint()
        )
        sig = _checksum(sm)
        cur = sm
        if sig == prev_sig:
            labels = cur.select(F.col("s").alias("id"),
                                F.col("d").alias("comp"))
            hubs = singletons.join(
                cur.select(F.col("s").alias("id")), "id", "left_anti"
            ).withColumn("comp", F.col("id"))
            return labels.unionByName(hubs)
        prev_sig = sig
    raise ConvergenceError(
        f"star components did not converge in {max_iter} iterations"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Power-iteration PageRank (Page et al. 1999) over a SYMMETRIC
    edge list, expressed as the Pregel message pattern (Malewicz et
    al. 2010) in DataFrame joins: each iteration, every vertex sends
    rank/outdeg along its out-edges (one hash equi-join) and the
    messages are summed per target (one partially-aggregated
    groupBy); rank = (1-d)/N + d * inbox.

    The edges fold into a GROUPED adjacency table (vertex, outdeg,
    out-neighbor array) that is ``localCheckpoint``ed ONCE up front:
    an iterative operator that leaves its input lazy re-evaluates the
    (possibly expensive) upstream plan every iteration -- for a
    derived graph like the winnowing passage-pair edges that would
    mean one corpus scan per iteration. Symmetric edges guarantee no
    dangling vertices, so the dangling-mass term is structurally zero
    (documented precondition -- feed directed graphs through an
    explicit sink-handling wrapper instead). Double-addition order in
    the message sums differs across engines only at the ~1e-15 level
    and damping keeps it from compounding, so the final dround(6) is
    order-insensitive and the DuckDB oracle replays the whole
    iteration bit-compatibly.

    Returns (id, pagerank) for every vertex.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # GROUPED adjacency (r10): one aggregation folds the degree count
    # and the out-neighbor list into a per-vertex row, replacing the
    # r9 setup's separate degree groupBy + edge-degree join + edge
    # checkpoint. The per-round message step then joins V adjacency
    # rows instead of E edge rows (the dst explode happens after the
    # join, feeding the partial aggregation map-side), and r/outdeg
    # is ONE division per vertex per round instead of one per edge --
    # same IEEE operands per message, so the dround(6) result is
    # unchanged. Per-vertex state is the vertex's out-neighbor list,
    # the representation every Pregel-family system keeps per vertex;
    # a pathological hub's array is bounded by its degree, which the
    # upstream pair generators already cap (df-capped buckets).
    #
    # Lazy checkpoint: the plan truncation (don't re-derive the
    # upstream corpus scan per iteration) happens at DataFrame level
    # either way, but eager=True would pay a driver-blocking job per
    # checkpoint; lazy folds the materialization into the n-count
    # job, and every later job reuses the cached blocks. The groupBy
    # leaves the checkpointed RDD hash-partitioned on the vertex id,
    # so each round's join sees a pre-partitioned build side.
    from ..session import eager_build_scope

    with eager_build_scope(e.sparkSession):
        adj = (
            e.groupBy("src")
            .agg(
                F.count("*").alias("outdeg"),
                F.collect_list("dst").alias("dsts"),
            )
            .select(F.col("src").alias("a_id"), "outdeg", "dsts")
            .localCheckpoint(eager=False)
        )
        # N is ONE bounded scalar (vertex count): a driver-side count
        # here replaces a per-iteration broadcast-aggregate job.
        # Symmetric edges mean every vertex has out-edges, so adj's
        # keys ARE the vertex set, and every vertex receives mail
        # every round (each neighbor sends a strictly positive
        # rank/outdeg) -- no per-round no-inbox backfill join exists;
        # see the loop. The float ops are unchanged -- (1-d)/N and 1/N
        # are the same IEEE-double divisions the oracle replays, just
        # folded to literals. AQE off for the build
        # (eager_build_scope): the whole upstream edge derivation +
        # count runs as ONE job instead of one per shuffle stage, and
        # the checkpointed adjacency records its real
        # hashpartitioning(src) so iteration joins see a
        # pre-partitioned build side instead of re-exchanging it. The
        # same stats job measures |E| (sum of out-degrees = messages
        # per round), which sizes the loop's shuffle width below.
        n_v, n_e = adj.agg(
            F.count("*").alias("nv"), F.sum("outdeg").alias("ne")
        ).first()
        n = float(n_v)
    if n == 0.0:
        # Empty graph (e.g. a corpus where no document yields an
        # edge): zero vertices, zero rows -- the literal 1/n below
        # would otherwise raise ZeroDivisionError on the driver.
        return adj.select(
            F.col("a_id").alias("id"),
            F.lit(None).cast("double").alias("pagerank"),
        )
    spark = e.sparkSession
    # The whole iteration runs EAGERLY inside the same AQE-off scope
    # (r11): executed lazily under AQE, every round's message exchange
    # became its own query-stage JOB (measured: 24 jobs end-to-end at
    # sf0.1, ~45-85 ms of driver latency each — over a third of the
    # query's wall); planned non-adaptively the ten rounds chain into
    # ONE job of ~11 stages, and the checkpointed adjacency's known
    # hashpartitioning(src) lets each round's join probe it without a
    # fresh exchange (one exchange per round — the groupBy(to) message
    # sum — which is the Pregel floor). AQE is not missed inside the
    # loop: rank tables are V-row and uniform, the per-round join keys
    # are unique per side (no skew-join case), and receiver-side
    # aggregation skew is out of AQE's scope anyway (guide §2.5).
    #
    # Loop shuffle width: without AQE's coalescing the round exchanges
    # would inherit the conf width (32 single-digit-row tasks per
    # round at sf0.1 — task launch overhead dominated); size it from
    # the MEASURED per-round message volume instead, clamped to the
    # session conf so cluster posture wins at volume (guide §2:
    # scale-adaptive partitioning). adj is co-partitioned to the same
    # width (one tiny V-row job) so every round's join stays
    # exchange-free. Both eager checkpoints are registered with the
    # ranking-pin registry so bench/oracle loops drain their blocks
    # between constructions.
    from ..functions.layout import shuffle_partitions
    from .ranking import register_pin

    sp = shuffle_partitions(spark)
    width = max(1, min(-(-int(n_e) // 250_000), sp))
    with eager_build_scope(spark, shuffle_partitions=width):
        if width != sp:
            adj = adj.repartition(width, "a_id").localCheckpoint(
                eager=True
            )
            register_pin(adj, "pagerank")
        ranks = adj.select(
            F.col("a_id").alias("id"), F.lit(1.0 / n).alias("r")
        )
        base_term = F.lit((1.0 - damping) / n)
        d = F.lit(damping)
        ranks = _pagerank_rounds(ranks, adj, iters, base_term, d)
        # Checkpoint inside the scope: the lazily built rounds are
        # physically planned right here, and only the scope's width
        # keeps their exchanges at the loop width.
        ranks = ranks.localCheckpoint(eager=True)
    from ..functions import dround

    register_pin(ranks, "pagerank")
    return ranks.select("id", dround("r", 6).alias("pagerank"))


def _pagerank_rounds(ranks, adj, iters, base_term, d):
    """The damped power-iteration rounds (see ``pagerank``); split out
    so the eager-build scope above stays readable."""
    for i in range(iters):
        # Deliberate join strategy (guide §3.1): the planner's size
        # estimates put the V-row rank table under the broadcast
        # threshold, and a broadcast join per round is one
        # driver-collect JOB per round locally and a full rank-table
        # broadcast per round at cluster scale. Both sides are already
        # hash-partitioned on the join key (ranks by the previous
        # round's groupBy(to), adj by the checkpointed groupBy(src) or
        # the explicit co-partition), so a shuffled-hash join probes
        # them exchange-free with ranks — the narrow side, 16
        # bytes/row vs adj's neighbor arrays — as build.
        msgs = ranks.hint("shuffle_hash").join(
            adj, F.col("id") == F.col("a_id")
        ).select(
            F.explode("dsts").alias("to"),
            (F.col("r") / F.col("outdeg")).alias("c"),
        )
        inbox = msgs.groupBy("to").agg(F.sum("c").alias("s"))
        # Symmetric edges: dst(inbox) == src(verts) as a SET and
        # every vertex's inbox is non-empty, so the new rank table
        # comes straight off the message aggregation -- the earlier
        # verts-left-join backfill (one more join + exchange per
        # round, x iters) computed base + d*coalesce(s, 0) with s
        # never NULL. Same floats, one fewer shuffle per round.
        ranks = inbox.select(
            F.col("to").alias("id"),
            (base_term + d * F.col("s")).alias("r"),
        )
        # Truncate lineage every few rounds: a 10-iteration lazy
        # plan is ~40 operators deep and Catalyst analysis cost
        # grows with depth at every loop op. LAZY: the marked RDD
        # materializes inside the final eager-checkpoint job, so
        # the truncation adds no job of its own.
        if (i + 1) % 5 == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def triangle_counts(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Degree-ordered triangle counting (Suri & Vassilvitskii, WWW'11
    "Counting triangles and the curse of the last reducer") over a
    canonical undirected edge list (src < dst, distinct).

    Each edge is oriented from its lower-degree endpoint (ties by
    id), so every triangle has exactly ONE vertex with both edges
    outgoing -- wedges generated only from oriented out-neighborhoods
    count each triangle exactly once, and a hub vertex's fan-out
    collapses from deg^2 to (its oriented out-degree)^2, which the
    orientation bounds by sqrt(|E|)-ish. Out-neighborhoods are
    GROUPED and paired in-array (the bucket pattern); wedge closure
    is one equi-join against the canonical edge set. Returns
    (id, n_triangles) for every vertex in at least one triangle
    (each triangle credits all three corners).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("d_b"))
    lower_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    outs = oriented.groupBy("src").agg(
        F.array_sort(F.collect_list("dst")).alias("ns")
    )
    wedges = outs.select(
        F.col("src").alias("v"), bucket_pairs("ns", names=("u", "w"))
    ).select("v", F.col("p.u").alias("u"), F.col("p.w").alias("w"))
    closed = wedges.join(
        e.select(F.col("a").alias("u"), F.col("b").alias("w")), ["u", "w"]
    )
    corners = (
        closed.select(F.col("v").alias("id"))
        .unionAll(closed.select(F.col("u").alias("id")))
        .unionAll(closed.select(F.col("w").alias("id")))
    )
    return corners.groupBy("id").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def dedup_groups(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-group summary: (component, group_size, keeper_id).
    keeper_id = smallest member = the canonical document to retain."""
    comps = connected_components(edges, src, dst, max_iter)
    return comps.groupBy("comp").agg(
        F.count("*").cast("long").alias("group_size"),
        F.min("id").alias("keeper_id"),
    ).select(F.col("comp").alias("component"), "group_size", "keeper_id")
