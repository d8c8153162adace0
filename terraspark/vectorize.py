"""Raster -> vector: polygonize thresholded cell regions via distributed
connected components (the gdal_polygonize analogue, re-expressed as
dataflow -- north rule: raster<->vector conversion).

Pipeline:
  1. per-cell statistic (mean of the band's pixels) -- mergeable partials,
     never an exploded pixel table;
  2. ``active`` cells = statistic > threshold (the raster mask);
  3. 4-adjacency edges between active cells, generated with pure JVM bit
     math on the int64 cell key (east = ilon+1 = cell+1 within the same
     ilat lane; south = ilat+1 = cell + 2^28) -- no Python, no geometry
     library;
  4. connected components by min-label propagation WITH pointer jumping
     (label <- min(own, neighbors' labels, label's label)): the plain
     neighbor-min loop needs O(diameter) rounds, path-halving makes it
     O(log n) -- the difference between 40 and 7 shuffles on a
     continent-sized region;
  5. each component -> bounding-box polygon (WKT) + cell count.

The loop runs on :func:`terraspark.fixpoint.fixpoint`: one propagation
step per round, each round one lazy checkpoint (iterative plans would
otherwise grow lineage linearly and re-execute the whole history) plus
one changed-label count, and a RuntimeError when ``max_iter`` rounds do
not converge -- a half-merged component is never returned.  Loop
parallelism is a ``repartition`` of each round's union frame, sized
from the label count; no session conf is touched.

The SQL oracle (see __spark_entry__.oracle_sql, img_polygonize) runs the
IDENTICAL edge arithmetic and a recursive-CTE transitive closure over the
independently-committed numpy-model cell means, so the component logic is
cross-checked end-to-end, not just its inputs.

World-edge guards: cell+1 would wrap into the next ilat lane at ilon =
2^28-1 (lon = +180 deg at res 0) and cell+2^28 would carry into the res
field at ilat = 2^28-1 (lat = +90 deg); both lanes are guarded
symmetrically, with the IDENTICAL predicates in the SQL oracle.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import fixpoint

_LON_BITS = 28
_MASK = (1 << _LON_BITS) - 1
_SOUTH = 1 << _LON_BITS     # +1 in the ilat lane


def _ilat(c):
    return F.shiftright(c, _LON_BITS).bitwiseAND(F.lit(_MASK))


def _ilon(c):
    return c.bitwiseAND(F.lit(_MASK))


def grid_edges(active: DataFrame) -> DataFrame:
    """Symmetric 4-adjacency edges (src, dst) between active cells.

    Two directed half-edge candidates per cell (east, south) are inner-
    joined back to the active set (keeps both-active edges only), then
    mirrored -- 2 narrow shuffles, no N^2 anywhere."""
    c = F.col("cell")
    east = active.select(c.alias("src"), (c + 1).alias("dst")) \
        .where(_ilat(F.col("src")) == _ilat(F.col("dst")))  # wrap guard
    # symmetric wrap guard on the ilat lane: at ilat = 2^28-1 the +2^28
    # would carry into the res field and fabricate a cross-resolution edge
    south = active.select(c.alias("src"), (c + _SOUTH).alias("dst")) \
        .where(F.shiftright(F.col("src"), 2 * _LON_BITS)
               == F.shiftright(F.col("dst"), 2 * _LON_BITS))
    both = east.unionByName(south) \
        .join(active.select(F.col("cell").alias("dst")), "dst")
    return both.select("src", "dst").unionByName(
        both.select(F.col("dst").alias("src"),
                    F.col("src").alias("dst"))).distinct()


def connected_components(active: DataFrame, edges: DataFrame,
                         max_iter: int = 50) -> DataFrame:
    """(cell, label) with label = MIN cell key of the component.

    Min-label propagation + pointer jumping, one step per
    :func:`~terraspark.fixpoint.fixpoint` round; raises RuntimeError when
    ``max_iter`` rounds still change labels.  Label tables are tiny (one
    row per active cell, two int64 columns) -- the pixel data never
    enters the loop."""
    labels = active.select("cell", F.col("cell").alias("label")) \
        .localCheckpoint(eager=False)
    # the edge table is re-read every round; cut its upstream plan (e.g.
    # polygonize's join+distinct edge derivation) once -- lazy, so it
    # materializes inside the first round's job
    nbrs = edges.select(F.col("src").alias("cell"), "dst") \
        .localCheckpoint(eager=False)
    # Loop parallelism from the exact label count (~500k rows per
    # partition, never above the session default): 1-2 tasks at fixture
    # scale, proportional fan-out on a continent-sized region.  It is the
    # partitioning of the loop's own union frame, so concurrent queries
    # keep the session's sizing.
    parts = int(active.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n = max(1, min(parts, labels.count() // 500_000 + 1))

    def step(cur: DataFrame) -> DataFrame:
        cur = cur.select("cell", "label")
        nbr = nbrs.join(cur, "cell").select(
            F.col("dst").alias("cell"), "label", F.lit(False).alias("_own"))
        # The input label rides through the SAME union+groupBy as a
        # tagged side-aggregate (each cell has exactly one _own row), so
        # convergence is a plain filter-count on the checkpointed round.
        merged = (cur.withColumn("_own", F.lit(True)).unionByName(nbr)
                  .repartition(n, "cell").groupBy("cell")
                  .agg(F.min("label").alias("label"),
                       F.min(F.when(F.col("_own"), F.col("label")))
                       .alias("old")))
        # pointer jump: every label is itself an active cell, so its own
        # current label exists -- follow it one hop (path halving)
        ptr = merged.select(F.col("cell").alias("label"),
                            F.col("label").alias("jump"))
        return (merged.join(ptr, "label")
                .select("cell", F.least("label", "jump").alias("label"),
                        "old"))

    return fixpoint(labels, step, F.col("label") != F.col("old"), max_iter,
                    "connected_components").select("cell", "label")


def polygonize(cell_means: DataFrame, threshold: float,
               max_iter: int = 50) -> DataFrame:
    """cell_means(cell, mean) -> one row per connected above-threshold
    region: (component, n_cells, lat_min/lat_max/lon_min/lon_max, wkt).

    Bounds are cell EDGES (not centers): lat = ilat*size - 90 with
    size = 2^-res degrees -- exact in binary floating point, so the WKT
    string (fixed %.7f) is bit-deterministic on both engine and oracle."""
    active = cell_means.where(F.col("mean") > threshold).select("cell")
    labels = connected_components(active, grid_edges(active), max_iter)
    res = F.shiftright(F.col("label"), 2 * _LON_BITS)
    size = F.lit(1.0) / F.pow(F.lit(2.0), res.cast("double"))
    comp = labels.groupBy("label").agg(
        F.count("*").alias("n_cells"),
        F.min(_ilat(F.col("cell"))).alias("la0"),
        F.max(_ilat(F.col("cell"))).alias("la1"),
        F.min(_ilon(F.col("cell"))).alias("lo0"),
        F.max(_ilon(F.col("cell"))).alias("lo1"))
    lat_min = comp["la0"] * size - 90.0
    lat_max = (comp["la1"] + 1) * size - 90.0
    lon_min = comp["lo0"] * size - 180.0
    lon_max = (comp["lo1"] + 1) * size - 180.0
    wkt = F.format_string(
        "POLYGON((%.7f %.7f, %.7f %.7f, %.7f %.7f, %.7f %.7f, %.7f %.7f))",
        lon_min, lat_min, lon_max, lat_min, lon_max, lat_max,
        lon_min, lat_max, lon_min, lat_min)
    return comp.select(
        F.col("label").alias("component"),
        F.col("n_cells").cast("long").alias("n_cells"),
        lat_min.alias("lat_min"), lat_max.alias("lat_max"),
        lon_min.alias("lon_min"), lon_max.alias("lon_max"),
        wkt.alias("wkt"))
