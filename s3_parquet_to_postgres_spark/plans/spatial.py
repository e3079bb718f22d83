"""Geo/spatial catalog: deterministic derived coordinates, grid-cell
density, and a grid-bucketed radius self-join (the geohash pattern).

The test tables carry no native coordinates, so each customer gets a
content-stable synthetic (lat, lon) derived from ``md5_unit`` — exact
integer arithmetic in doubles, bit-identical across Spark and DuckDB,
the same convention as the catalog's md5 split/sample keys. Latitude
is confined to [-60, 60) so a fixed-degree longitude cell keeps a
minimum metric width (cos 60° = 0.5) and grid cells never degenerate
toward the poles.

Cross-engine determinism: cell ids come from floor(lat * 0.25) /
floor(lon * 0.125) — multiplications by powers of two are exact on
the exact-dyadic derived coordinates, so bucketing is bit-stable.
Haversine output is transcendental and follows the catalog rule:
quantized via dround with repr()'d double literals for pi/180 so both
engines parse identical constants.

Scale shape (the geohash story): the radius join NEVER goes all-pairs
— points are bucketed to fixed grid cells sized >= the search radius,
one side expands to its 3x3 cell neighborhood (a narrow 9x explode,
no join), and candidates meet in a plain hash equi-join on cell id.
A declared per-cell membership cap (first 256 ids per cell) bounds
the worst hot cell exactly like the LSH band-bucket and shingle
posting-list caps elsewhere in the catalog. Declared limitation: no
antimeridian wrap (cells at lon ±180 do not join across the seam).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dround, md5_unit, sql_dround
from ..functions.numeric import sql_md5_unit
from .base import QuerySpec, t

# pi/180 as a repr()'d literal: both engines parse the identical
# double instead of each computing radians() their own way.
_DEG = repr(math.pi / 180.0)
_EARTH_R_KM = "6371.0"

# Radius join parameters. Cell sizes are powers-of-two degrees so the
# floor() bucketing multiplications stay exact: lat cell 4 deg
# (>= 400 km everywhere), lon cell 8 deg (8 * 111.19 * cos(60) =
# 444.8 km >= 400 km at the worst latitude).
_RADIUS_KM = 400.0
_LAT_CELL_INV = 0.25  # 1 / 4 deg
_LON_CELL_INV = 0.125  # 1 / 8 deg
_MAX_CELL = 256  # declared per-cell membership cap


def _lat_expr() -> F.Column:
    return md5_unit("concat('lat:', c_custkey)") * F.lit(120.0) - F.lit(60.0)


def _lon_expr() -> F.Column:
    return md5_unit("concat('lon:', c_custkey)") * F.lit(360.0) - F.lit(180.0)


_SQL_LAT = "(" + sql_md5_unit("concat('lat:', c_custkey)") + " * 120.0 - 60.0)"
_SQL_LON = "(" + sql_md5_unit("concat('lon:', c_custkey)") + " * 360.0 - 180.0)"


def _haversine_km(lat1, lon1, lat2, lon2) -> F.Column:
    """Great-circle distance (haversine); inputs in degrees."""
    p1, p2 = lat1 * F.lit(float(_DEG)), lat2 * F.lit(float(_DEG))
    dphi = (lat2 - lat1) * F.lit(float(_DEG))
    dlmb = (lon2 - lon1) * F.lit(float(_DEG))
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(p1) * F.cos(p2) * F.sin(dlmb / 2) * F.sin(dlmb / 2)
    )
    return F.lit(float(_EARTH_R_KM)) * 2 * F.asin(F.sqrt(a))


def _sql_haversine_km(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    p1, p2 = f"(({lat1}) * {_DEG})", f"(({lat2}) * {_DEG})"
    dphi = f"((({lat2}) - ({lat1})) * {_DEG})"
    dlmb = f"((({lon2}) - ({lon1})) * {_DEG})"
    a = (
        f"(sin({dphi} / 2) * sin({dphi} / 2)"
        f" + cos({p1}) * cos({p2}) * sin({dlmb} / 2) * sin({dlmb} / 2))"
    )
    return f"({_EARTH_R_KM} * 2 * asin(sqrt({a})))"


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        _lat_expr().alias("lat"),
        _lon_expr().alias("lon"),
    )


_POINTS_SQL = f"""
SELECT c_custkey, {_SQL_LAT} AS lat, {_SQL_LON} AS lon FROM customer
"""


# --------------------------------------------------------------------------
# scalar_geo: per-point derived coordinates, grid cells, fixed-point
# distance (narrow map, zero shuffle)
# --------------------------------------------------------------------------

_PARIS_LAT, _PARIS_LON = "48.8566", "2.3522"


def scalar_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _points(spark, sf_dir)
    return p.select(
        "c_custkey",
        "lat",
        "lon",
        F.floor(F.col("lat") * F.lit(_LAT_CELL_INV)).cast("long").alias("cell_y"),
        F.floor(F.col("lon") * F.lit(_LON_CELL_INV)).cast("long").alias("cell_x"),
        dround(
            _haversine_km(
                F.col("lat"), F.col("lon"),
                F.lit(float(_PARIS_LAT)), F.lit(float(_PARIS_LON)),
            ),
            3,
        ).alias("dist_paris_km"),
    )


SCALAR_GEO_SQL = f"""
WITH p AS ({_POINTS_SQL})
SELECT c_custkey, lat, lon,
       CAST(floor(lat * {_LAT_CELL_INV}) AS BIGINT) AS cell_y,
       CAST(floor(lon * {_LON_CELL_INV}) AS BIGINT) AS cell_x,
       {sql_dround(_sql_haversine_km('lat', 'lon', _PARIS_LAT, _PARIS_LON), 3)}
         AS dist_paris_km
FROM p
"""


# --------------------------------------------------------------------------
# agg_spatial_density: top-25 densest grid cells (partial-aggregated
# groupBy on cell id — the spatial heavy-hitters pattern)
# --------------------------------------------------------------------------


def agg_spatial_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _points(spark, sf_dir)
    cells = p.groupBy(
        F.floor(F.col("lat") * F.lit(_LAT_CELL_INV)).cast("long").alias("cell_y"),
        F.floor(F.col("lon") * F.lit(_LON_CELL_INV)).cast("long").alias("cell_x"),
    ).agg(F.count("*").alias("n_points"))
    return cells.orderBy(
        F.desc("n_points"), F.asc("cell_y"), F.asc("cell_x")
    ).limit(25)


AGG_SPATIAL_DENSITY_SQL = f"""
WITH p AS ({_POINTS_SQL})
SELECT CAST(floor(lat * {_LAT_CELL_INV}) AS BIGINT) AS cell_y,
       CAST(floor(lon * {_LON_CELL_INV}) AS BIGINT) AS cell_x,
       count(*) AS n_points
FROM p GROUP BY 1, 2
ORDER BY n_points DESC, cell_y ASC, cell_x ASC LIMIT 25
"""


# --------------------------------------------------------------------------
# join_spatial_grid: all point pairs within RADIUS km via 3x3 grid
# neighborhood candidates + exact haversine refine
# --------------------------------------------------------------------------


def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _points(spark, sf_dir).select(
        "c_custkey", "lat", "lon",
        F.floor(F.col("lat") * F.lit(_LAT_CELL_INV)).cast("long").alias("cell_y"),
        F.floor(F.col("lon") * F.lit(_LON_CELL_INV)).cast("long").alias("cell_x"),
    )
    # Declared per-cell cap: keep the first _MAX_CELL ids per cell so a
    # pathologically hot cell cannot go quadratic (the grid analogue of
    # the LSH max_bucket_size cap). Deterministic on both engines.
    w = Window.partitionBy("cell_y", "cell_x").orderBy("c_custkey")
    p = p.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= _MAX_CELL
    ).drop("__rn")
    # One side expands to its 3x3 cell neighborhood: a narrow 9x
    # explode (no join), so candidates meet in ONE hash equi-join on
    # the cell id. Each (a, b) pair matches exactly once — at the
    # exploded cell equal to b's home cell.
    offsets = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ])
    a = p.select(
        F.col("c_custkey").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(offsets).alias("o"),
        F.col("cell_y"), F.col("cell_x"),
    ).select(
        "id_a", "lat_a", "lon_a",
        (F.col("cell_y") + F.col("o.dy")).alias("jy"),
        (F.col("cell_x") + F.col("o.dx")).alias("jx"),
    )
    b = p.select(
        F.col("c_custkey").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("cell_y").alias("jy"),
        F.col("cell_x").alias("jx"),
    )
    pairs = a.join(b, ["jy", "jx"]).filter(F.col("id_a") < F.col("id_b"))
    dist = dround(
        _haversine_km(
            F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
        ),
        3,
    )
    return pairs.select(
        "id_a", "id_b", dist.alias("dist_km")
    ).filter(F.col("dist_km") <= F.lit(_RADIUS_KM))


JOIN_SPATIAL_GRID_SQL = f"""
WITH p0 AS ({_POINTS_SQL}),
p1 AS (
  SELECT c_custkey, lat, lon,
         CAST(floor(lat * {_LAT_CELL_INV}) AS BIGINT) AS cell_y,
         CAST(floor(lon * {_LON_CELL_INV}) AS BIGINT) AS cell_x
  FROM p0
), p AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY cell_y, cell_x
                                 ORDER BY c_custkey) AS rn
    FROM p1
  ) WHERE rn <= {_MAX_CELL}
), offs AS (
  SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                        (1,-1),(1,0),(1,1)) o(dy, dx)
), a AS (
  SELECT p.c_custkey AS id_a, p.lat AS lat_a, p.lon AS lon_a,
         p.cell_y + o.dy AS jy, p.cell_x + o.dx AS jx
  FROM p, offs o
), b AS (
  SELECT c_custkey AS id_b, lat AS lat_b, lon AS lon_b,
         cell_y AS jy, cell_x AS jx
  FROM p
), cand AS (
  SELECT id_a, id_b,
         {sql_dround(_sql_haversine_km('lat_a', 'lon_a', 'lat_b', 'lon_b'), 3)}
           AS dist_km
  FROM a JOIN b USING (jy, jx)
  WHERE id_a < id_b
)
SELECT id_a, id_b, dist_km FROM cand WHERE dist_km <= {_RADIUS_KM}
"""


# --------------------------------------------------------------------------
# ml_grid_cluster: DBSCAN-style density clustering = dense grid cells
# + connected components over the 8-neighborhood adjacency graph
# --------------------------------------------------------------------------

_MIN_PTS = 2  # a cell is "dense" with >= this many points


def ml_grid_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN (the CLIQUE/grid flavor of density clustering):
    cells holding >= _MIN_PTS points are dense; dense cells touching
    in the 8-neighborhood merge into one cluster via the shared
    hash-min connected-components operator. Returns one row per
    cluster: its label (smallest member cell id), cell count, and
    point count.

    Scale shape: the corpus reduces to per-cell counts in ONE
    partial-aggregated groupBy (output is grid-bounded, not
    corpus-bounded); adjacency is the same narrow 9x offset explode +
    hash equi-join as join_spatial_grid, over the already-tiny dense
    set. Components use the large-star/small-star algorithm, NOT
    hash-min propagation: at high point density nearly every cell is
    dense and the component spans the whole grid, so convergence must
    be O(log^2 n) rounds, independent of the grid diameter (hash-min
    would need ~grid-width iterations). The corpus itself is scanned
    once and never joined.
    """
    from ..operators.components import connected_components_star

    p = _points(spark, sf_dir)
    cells = p.groupBy(
        F.floor(F.col("lat") * F.lit(_LAT_CELL_INV)).cast("long").alias("cy"),
        F.floor(F.col("lon") * F.lit(_LON_CELL_INV)).cast("long").alias("cx"),
    ).agg(F.count("*").alias("n_points"))
    dense = cells.filter(F.col("n_points") >= _MIN_PTS).withColumn(
        "cid", (F.col("cy") + 64) * 4096 + (F.col("cx") + 64)
    )
    offsets = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        if not (dy == 0 and dx == 0)
    ])
    a = dense.select(
        F.col("cid").alias("id_a"),
        F.explode(offsets).alias("o"),
        F.col("cy"), F.col("cx"),
    ).select(
        "id_a",
        (F.col("cy") + F.col("o.dy")).alias("jy"),
        (F.col("cx") + F.col("o.dx")).alias("jx"),
    )
    b = dense.select(
        F.col("cid").alias("id_b"),
        F.col("cy").alias("jy"), F.col("cx").alias("jx"),
    )
    edges = a.join(b, ["jy", "jx"]).filter(
        F.col("id_a") < F.col("id_b")
    ).select("id_a", "id_b")
    labels = connected_components_star(edges)
    labeled = dense.join(
        labels, dense["cid"] == labels["id"], "left"
    ).select(
        F.coalesce(F.col("comp"), F.col("cid")).alias("cluster"),
        "n_points",
    )
    return labeled.groupBy("cluster").agg(
        F.count("*").alias("n_cells"),
        F.sum("n_points").cast("long").alias("n_points"),
    )


ML_GRID_CLUSTER_SQL = f"""
WITH RECURSIVE p0 AS ({_POINTS_SQL}),
cells AS (
  SELECT CAST(floor(lat * {_LAT_CELL_INV}) AS BIGINT) AS cy,
         CAST(floor(lon * {_LON_CELL_INV}) AS BIGINT) AS cx,
         count(*) AS n_points
  FROM p0 GROUP BY 1, 2
), dense AS (
  SELECT cy, cx, n_points, (cy + 64) * 4096 + (cx + 64) AS cid
  FROM cells WHERE n_points >= {_MIN_PTS}
), offs AS (
  SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
                        (1,-1),(1,0),(1,1)) o(dy, dx)
), pairs AS (
  SELECT a.cid AS id_a, b.cid AS id_b
  FROM dense a
  JOIN offs o ON TRUE
  JOIN dense b ON b.cy = a.cy + o.dy AND b.cx = a.cx + o.dx
  WHERE a.cid < b.cid
), e AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
), comp AS (
  SELECT n.s AS id, least(n.s, min(r.d)) AS comp
  FROM (SELECT DISTINCT s FROM e) n
  LEFT JOIN reach r ON r.s = n.s
  GROUP BY n.s
)
SELECT coalesce(c.comp, d.cid) AS cluster,
       count(*) AS n_cells,
       CAST(sum(d.n_points) AS BIGINT) AS n_points
FROM dense d LEFT JOIN comp c ON c.id = d.cid
GROUP BY 1
"""


# --------------------------------------------------------------------------
# scalar_geohash: standard base-32 geohash encoding (6 chars = 30
# bits, lon-first bit interleave) as pure integer arithmetic
# --------------------------------------------------------------------------

_GH_BITS = 15  # bits per axis; 2 * 15 = 30 bits = 6 base-32 chars
_GH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"


def _gh_interleave(shift_fmt: str) -> str:
    """Sum-of-terms bit interleave (lon bit k -> weight 2^(2k+1), lat
    bit k -> 2^(2k)); ``shift_fmt`` renders one right-shift-and-mask
    term in the target engine's syntax."""
    terms = []
    for k in range(_GH_BITS):
        terms.append(f"{shift_fmt.format(col='lon_n', k=k)} * {1 << (2 * k + 1)}")
        terms.append(f"{shift_fmt.format(col='lat_n', k=k)} * {1 << (2 * k)}")
    return " + ".join(terms)


_GH_SPARK_G = _gh_interleave("(shiftright({col}, {k}) & 1)")
_GH_DUCK_G = _gh_interleave("(({col} >> {k}) & 1)")
_GH_MAX = (1 << _GH_BITS) - 1


def _gh_chars(g_col: str) -> str:
    """Six base-32 chars from the 30-bit interleaved integer; same
    syntax works on both engines (1-based substr, || concat is DuckDB
    — Spark side uses concat())."""
    return [
        f"substr('{_GH_ALPHA}', cast((({g_col}) >> {25 - 5 * i}) & 31 as int) + 1, 1)"
        for i in range(6)
    ]


def scalar_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard geohash6 per point: quantize each axis to 15 bits,
    interleave lon-first, emit base-32 chars. Every step is exact
    integer arithmetic (the axis quantization is one floor of a
    deterministic IEEE expression), so the string is bit-stable
    cross-engine — usable as a join/cluster key at any scale.
    Narrow map, zero shuffle. Verified against an independent Python
    geohash implementation in tests/test_spatial_mining.py.
    """
    p = _points(spark, sf_dir)
    q = p.select(
        "c_custkey", "lat", "lon",
        F.least(
            F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0)
                    * F.lit(float(1 << _GH_BITS))).cast("long"),
            F.lit(_GH_MAX),
        ).alias("lon_n"),
        F.least(
            F.floor((F.col("lat") + F.lit(90.0)) / F.lit(180.0)
                    * F.lit(float(1 << _GH_BITS))).cast("long"),
            F.lit(_GH_MAX),
        ).alias("lat_n"),
    )
    g = q.withColumn("g", F.expr(_GH_SPARK_G))
    chars = [F.expr(c) for c in _gh_chars("g")]
    return g.select(
        "c_custkey",
        F.col("g").alias("gh_int"),
        F.concat(*chars).alias("geohash6"),
    )


SCALAR_GEOHASH_SQL = f"""
WITH p AS ({_POINTS_SQL}),
q AS (
  SELECT c_custkey,
         least(CAST(floor((lon + 180.0) / 360.0 * {1 << _GH_BITS}.0)
                    AS BIGINT), {_GH_MAX}) AS lon_n,
         least(CAST(floor((lat + 90.0) / 180.0 * {1 << _GH_BITS}.0)
                    AS BIGINT), {_GH_MAX}) AS lat_n
  FROM p
), g AS (
  SELECT c_custkey, {_GH_DUCK_G} AS g FROM q
)
SELECT c_custkey, g AS gh_int,
       {' || '.join(_gh_chars('g'))} AS geohash6
FROM g
"""


# --------------------------------------------------------------------------
# layout_zorder_stats: Z-order vs linear clustering — data-skipping
# accounting for the multi-column layout the 100 TB scan depends on
# --------------------------------------------------------------------------

_Z_BITS = 8          # quantization bits per clustering column
_Z_FILES_SHIFT = 12  # zkey >> 12 -> top-4 interleaved bits = 16 files
_Z_PROBE_LO, _Z_PROBE_HI = 64, 95  # probe range in quantized units (1/8 slice)


def _z_interleave(shift_fmt: str) -> str:
    """Sum-of-terms Morton interleave over quantized columns q_pk /
    q_sk (pk bit k -> weight 2^(2k+1), sk bit k -> 2^(2k)); same
    construction as the geohash encoder above."""
    terms = []
    for k in range(_Z_BITS):
        terms.append(f"{shift_fmt.format(col='q_pk', k=k)} * {1 << (2 * k + 1)}")
        terms.append(f"{shift_fmt.format(col='q_sk', k=k)} * {1 << (2 * k)}")
    return " + ".join(terms)


def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout planner readout: cluster lineitem into 16 files by
    (a) the Z-order (Morton) key over (l_partkey, l_suppkey) and (b) a
    linear sort on l_partkey alone, then report — from per-file
    min/max stats, exactly what a parquet footer stores — how many
    files a range probe on EACH column would scan. This is the
    row-group-skipping arithmetic behind a Z-order clustered write:
    linear layout prunes perfectly on its sort column and not at all
    on the second; Z-order prunes well on both.

    Determinism/scale shape: per-column quantization uses the global
    min/max (ONE tiny aggregate, broadcast back — no global-window
    rank), the Morton key is exact integer bit interleaving, and the
    per-(layout, file) stats are a map-side-combinable aggregate to 32
    rows. At 100 TB the same expressions feed
    ``repartitionByRange(zkey)`` + per-file writes; here the footer
    min/max accounting is computed instead of written.

    reference: no analogue — the reference scans every file it is
    given (src/runner.rs:32 decodes all columns, no skipping); this
    entry is the layout half of making a 100 TB scan NOT do that.
    """
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    )
    st = li.agg(
        F.min("pk").alias("pk_min"), F.max("pk").alias("pk_max"),
        F.min("sk").alias("sk_min"), F.max("sk").alias("sk_max"),
    )
    lvl = 1 << _Z_BITS
    q = li.crossJoin(F.broadcast(st)).select(
        F.expr(f"((pk - pk_min) * {lvl}) div (pk_max - pk_min + 1)")
        .alias("q_pk"),
        F.expr(f"((sk - sk_min) * {lvl}) div (sk_max - sk_min + 1)")
        .alias("q_sk"),
    )
    z = q.withColumn(
        "zkey", F.expr(_z_interleave("(shiftright({col}, {k}) & 1)"))
    )
    tagged = z.select(
        "q_pk",
        "q_sk",
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.shiftright("zkey", _Z_FILES_SHIFT).alias("file_id"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.shiftright("q_pk", _Z_BITS - 4).alias("file_id"),
                ),
            )
        ).alias("f"),
    ).select("q_pk", "q_sk", "f.layout", "f.file_id")
    footer = tagged.groupBy("layout", "file_id").agg(
        F.min("q_pk").alias("min_pk"), F.max("q_pk").alias("max_pk"),
        F.min("q_sk").alias("min_sk"), F.max("q_sk").alias("max_sk"),
        F.count("*").alias("cnt"),
    )
    lo, hi = _Z_PROBE_LO, _Z_PROBE_HI
    probes = footer.select(
        "layout",
        "cnt",
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_partkey").alias("probe_col"),
                    (~((F.col("max_pk") < lo) | (F.col("min_pk") > hi)))
                    .cast("long").alias("scan"),
                ),
                F.struct(
                    F.lit("l_suppkey").alias("probe_col"),
                    (~((F.col("max_sk") < lo) | (F.col("min_sk") > hi)))
                    .cast("long").alias("scan"),
                ),
            )
        ).alias("p"),
    ).select("layout", "cnt", "p.probe_col", "p.scan")
    return probes.groupBy("layout", "probe_col").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("scan").cast("long").alias("files_scanned"),
        F.sum(F.col("scan") * F.col("cnt")).cast("long")
        .alias("rows_scanned"),
    )


LAYOUT_ZORDER_STATS_SQL = f"""
WITH src AS (
  SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem
), st AS (
  SELECT min(pk) AS pk_min, max(pk) AS pk_max,
         min(sk) AS sk_min, max(sk) AS sk_max
  FROM src
), q AS (
  SELECT ((pk - pk_min) * {1 << _Z_BITS}) // (pk_max - pk_min + 1) AS q_pk,
         ((sk - sk_min) * {1 << _Z_BITS}) // (sk_max - sk_min + 1) AS q_sk
  FROM src, st
), z AS (
  SELECT q_pk, q_sk, {_z_interleave("(({col} >> {k}) & 1)")} AS zkey FROM q
), tagged AS (
  SELECT 'zorder' AS layout, zkey >> {_Z_FILES_SHIFT} AS file_id, q_pk, q_sk
  FROM z
  UNION ALL
  SELECT 'linear', q_pk >> {_Z_BITS - 4}, q_pk, q_sk FROM z
), footer AS (
  SELECT layout, file_id,
         min(q_pk) AS min_pk, max(q_pk) AS max_pk,
         min(q_sk) AS min_sk, max(q_sk) AS max_sk,
         count(*) AS cnt
  FROM tagged GROUP BY layout, file_id
), probes AS (
  SELECT layout, cnt, 'l_partkey' AS probe_col,
         CASE WHEN max_pk < {_Z_PROBE_LO} OR min_pk > {_Z_PROBE_HI}
              THEN 0 ELSE 1 END AS scan
  FROM footer
  UNION ALL
  SELECT layout, cnt, 'l_suppkey',
         CASE WHEN max_sk < {_Z_PROBE_LO} OR min_sk > {_Z_PROBE_HI}
              THEN 0 ELSE 1 END
  FROM footer
)
SELECT layout, probe_col,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(scan) AS BIGINT) AS files_scanned,
       CAST(sum(scan * cnt) AS BIGINT) AS rows_scanned
FROM probes GROUP BY layout, probe_col
"""


SPECS: list[QuerySpec] = [
    QuerySpec("scalar_geo", scalar_geo, SCALAR_GEO_SQL),
    QuerySpec("scalar_geohash", scalar_geohash, SCALAR_GEOHASH_SQL),
    QuerySpec("agg_spatial_density", agg_spatial_density,
              AGG_SPATIAL_DENSITY_SQL),
    QuerySpec("join_spatial_grid", join_spatial_grid,
              JOIN_SPATIAL_GRID_SQL),
    QuerySpec("ml_grid_cluster", ml_grid_cluster, ML_GRID_CLUSTER_SQL),
    QuerySpec("layout_zorder_stats", layout_zorder_stats,
              LAYOUT_ZORDER_STATS_SQL),
]
