"""Bloom-filter semi-join reduction: prune a huge probe side with a
compact fingerprint of the (filtered) build side's join keys BEFORE
the shuffle join.

The scale problem this solves: in `fact JOIN dim WHERE dim.selective`,
the filtered dim is often still too big to broadcast as a hash table,
so Spark shuffles the ENTIRE fact table even though only a sliver of
it will survive the join. A Bloom filter of the dim keys costs a few
MB at any build-side cardinality, broadcasts cheaply, and drops
non-matching fact rows at the scan -- at 100 TB that converts a full
fact shuffle into a shuffle of roughly the matching rows (plus the
false-positive margin epsilon).

Spark's own runtime bloom pruning (`InjectRuntimeFilter`) does this
automatically only when size thresholds line up and the JVM aggregate
`bloom_filter_agg` is not callable from SQL/Python (UNRESOLVED_ROUTINE
in Spark 4). This operator is the explicit, always-available form,
built entirely from JVM-side expressions (no UDFs):

  build:  pos_i = pmod(xxhash64(key, seed_i), m)  for k seeds
          -> groupBy word_index = pos div 64 with bit_or(1 << pos%64)
          -> at most m/64 (word, bits) rows reach the driver, however
             large the build side is; they become ONE array<long> row.
  probe:  broadcast the one-row mask, keep rows where every seed's bit
          is set (getbit(element_at(mask, word), bit) -- whole-stage
          codegen, no Python).

No false negatives ever (the pruned probe is a superset of the
matching rows), so join-after-prune is result-identical to the plain
join; false positives only cost wasted shuffle rows, bounded by the
standard (1 - e^{-kn/m})^k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Bits reserved per filter by default: 2^20 bits = 128 KiB.
DEFAULT_NUM_BITS = 1 << 20
DEFAULT_NUM_HASHES = 5

_MASK = "__bloom_mask"


def _positions(key: F.Column, num_bits: int, num_hashes: int) -> list[F.Column]:
    # Independent hash family via xxhash64 seed variation; pmod keeps
    # the result in [0, m) for negative hashes too.
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def build_bloom_mask(
    build: DataFrame,
    key: str | F.Column,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """One-row DataFrame holding the filter as array<long> (dense,
    num_bits/64 words). The heavy lifting is a grouped bit_or on at
    most num_bits/64 distinct word indices -- driver memory is bounded
    by the FILTER size, never the build-side cardinality."""
    kcol = F.col(key) if isinstance(key, str) else key
    pos = F.explode(F.array(*_positions(kcol, num_bits, num_hashes)))
    words = (
        build.select(pos.alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            # shiftleft's Python wrapper wants a literal shift; the SQL
            # form takes an expression. 1 << 63 is a plain sign flip,
            # not an ANSI overflow.
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    n_words = num_bits // 64
    # Scatter the sparse (word, bits) rows into one dense array row:
    # map lookup per word index -- O(n_words), vs the quadratic fold a
    # per-entry array rewrite would cost.
    sparse = words.agg(
        F.map_from_entries(
            F.collect_list(F.struct("w", "bits"))
        ).alias("sparse")
    )
    return sparse.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            _densify(),
        ).alias(_MASK)
    )


def _densify():
    # Factory returning a single-arg lambda -- PySpark introspects
    # lambda arity, so default-arg capture would miscount.
    def at(i: F.Column) -> F.Column:
        return F.coalesce(
            F.element_at("sparse", i), F.lit(0).cast("long")
        )

    return at


def bloom_prune(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str | F.Column,
    build_key: str | F.Column,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Rows of ``probe`` whose key might appear in ``build`` -- a
    superset of the true semi-join (no false negatives). Schema is
    unchanged."""
    mask = build_bloom_mask(build, build_key, num_bits, num_hashes)
    kcol = F.col(probe_key) if isinstance(probe_key, str) else probe_key
    hit = None
    for p in _positions(kcol, num_bits, num_hashes):
        word = F.element_at(_MASK, (p / 64).cast("int") + 1)
        bit = F.getbit(word, p % 64) == 1
        hit = bit if hit is None else (hit & bit)
    return (
        probe.join(F.broadcast(mask))
        .filter(hit)
        .drop(_MASK)
    )


def bloom_filter_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Inner equi-join with the probe side bloom-pruned first. An inner
    join drops every probe row without a match, so pruning cannot
    change its result."""
    pruned = bloom_prune(
        probe, build, probe_key, build_key, num_bits, num_hashes
    )
    return pruned.join(build, F.col(probe_key) == F.col(build_key))
