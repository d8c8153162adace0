"""D8 flow routing over the cell index: per-cell steepest-descent flow
direction + inflow degree, the first step of every DEM hydrology stack
(flow accumulation, watershed labeling, stream extraction).

The reference ships DEM analytics only as slope/aspect inputs to the
corrections (/root/reference/processing_alg/execution_context.py:200-247);
flow routing is the natural next operator over the same cell-indexed DEM
and exercises a different distributed shape: an 8-neighbor self-equi-join
on cell keys generated map-side (the join form of the halo exchange used
by the pixel kernels -- no Arrow padding needed because the unit is the
per-cell aggregate, not the pixel block).

Scale: the per-cell elevation table is pixels/TILE^2 rows of three narrow
columns -- at 100 TB of rasters that is ~10^7 rows, a small shuffle; the
neighbor join is an equi-join on (dem_id, cell) so it hash-partitions
evenly (no skew: every cell has exactly 8 candidates), and the inflow
count is one map-side-combinable groupBy.

Direction semantics (grid-index deltas; ilat +1 = north, ilon +1 = east):
dir 0..7 = E, NE, N, NW, W, SW, S, SE; dist = sqrt(2) on diagonals; the
chosen direction maximizes drop = (elev - elev_neighbor) / dist over
neighbors with drop > 0; ties break to the LOWEST dir index; cells with
no positive drop (pits, plateaus, region borders falling off the grid)
get flow_dir = -1.  Neighbors that leave the DEM region simply find no
row to join -- identical arithmetic on the oracle side.
"""
from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cells import _LON_BITS
from .config import TILE
from .fixpoint import fixpoint

#              dir  dlat dlon dist
D8 = [(0, 0, 1, 1.0),
      (1, 1, 1, math.sqrt(2.0)),
      (2, 1, 0, 1.0),
      (3, 1, -1, math.sqrt(2.0)),
      (4, 0, -1, 1.0),
      (5, -1, -1, math.sqrt(2.0)),
      (6, -1, 0, 1.0),
      (7, -1, 1, math.sqrt(2.0))]


def cell_elevation(dem: DataFrame, tile: int = TILE) -> DataFrame:
    """(dem_id, cell, elev): mean elevation of each cell's DEM block.

    One Arrow batch -> one reshape -> one axis-1 pairwise mean; the
    float32 block is widened to float64 exactly like the numpy reference
    model, so the means agree bit-for-bit."""
    n = tile * tile

    def mean_elev(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.frombuffer(b"".join(pdf["elev"].tolist()), dtype="<f4") \
                .reshape(len(pdf), n).astype(np.float64)
            yield pd.DataFrame({"dem_id": pdf["dem_id"], "cell": pdf["cell"],
                                "elev": a.mean(axis=1)})

    return dem.select("dem_id", "cell", "elev").mapInPandas(
        mean_elev, schema="dem_id string, cell long, elev double")


def flow_direction(elev: DataFrame) -> DataFrame:
    """(dem_id, cell, flow_dir, drop, n_inflow) D8 routing over cell
    elevations -- see module docstring for the exact semantics."""
    step = 1 << _LON_BITS
    dirs = ", ".join(
        f"struct({d} as dir, {dla}L as dlat, {dlo}L as dlon, "
        f"{repr(dist)}D as dist)"
        for d, dla, dlo, dist in D8)
    nbr = (elev.select("dem_id", "cell", "elev",
                       F.expr(f"inline(array({dirs}))"))
           .withColumn("target", F.col("cell") + F.col("dlat") * F.lit(step)
                       + F.col("dlon")))
    other = elev.select("dem_id", F.col("cell").alias("target"),
                        F.col("elev").alias("nelev"))
    j = nbr.join(other, ["dem_id", "target"])
    drop = (F.col("elev") - F.col("nelev")) / F.col("dist")
    cand = (j.where(drop > 0)
            .select("dem_id", "cell",
                    F.struct(drop.alias("drop"),
                             (-F.col("dir")).alias("nd"),
                             F.col("dir").alias("dir"),
                             F.col("target").alias("target")).alias("c")))
    pick = (cand.groupBy("dem_id", "cell").agg(F.max("c").alias("c"))
            .select("dem_id", "cell", F.col("c.dir").alias("flow_dir"),
                    F.col("c.drop").alias("drop"),
                    F.col("c.target").alias("target")))
    inflow = pick.groupBy("dem_id", F.col("target").alias("cell")) \
        .agg(F.count("*").cast("long").alias("n_inflow"))
    return (elev.join(pick.select("dem_id", "cell", "flow_dir", "drop"),
                      ["dem_id", "cell"], "left")
            .join(inflow, ["dem_id", "cell"], "left")
            .select("dem_id", "cell",
                    F.coalesce("flow_dir", F.lit(-1)).cast("int")
                    .alias("flow_dir"),
                    F.round(F.coalesce("drop", F.lit(0.0)), 6).alias("drop"),
                    F.coalesce("n_inflow", F.lit(0)).cast("long")
                    .alias("n_inflow")))


def flow_accumulation(flow: DataFrame, max_iter: int = 512) -> DataFrame:
    """(dem_id, cell, acc): D8 flow accumulation -- the number of cells
    (including itself) whose drainage path passes through each cell; the
    operator behind stream extraction and drainage-area thresholds.

    flow: (dem_id, cell, flow_dir, ...) from :func:`flow_direction`; the
    flow graph is a functional forest (each cell drains to at most one
    neighbor).  Pointer doubling, as in :func:`watershed`: after k rounds
    every cell carries p, its 2^k-th downstream cell (null past the end
    of its path), and acc, the number of cells fewer than 2^k steps
    upstream of it (itself included).  A round applies

        acc'(c) = acc(c) + sum(acc(w) for w with p(w) = c)
        p'(w)   = p(p(w))

    so a forest whose longest path has D steps resolves in
    ceil(log2(D + 1)) rounds, and ``max_iter`` bounds those doubling
    rounds, not the path length.  Counts are integers, so the result is
    exact.  Each round is one union + sum groupBy and one pointer
    self-join over a four-column table, driven by
    :func:`~terraspark.fixpoint.fixpoint` until no pointer is left."""
    state = _downstream(flow, F.lit(1).cast("long").alias("acc"))

    def double(cur: DataFrame) -> DataFrame:
        up = cur.where(F.col("p").isNotNull()).select(
            "dem_id", F.col("p").alias("cell"), "acc")
        new = (cur.unionByName(up, allowMissingColumns=True)
               .groupBy("dem_id", "cell")
               .agg(F.max("p").alias("p"), F.sum("acc").alias("acc")))
        return _jump(new, cur)

    return fixpoint(state, double, F.col("p").isNotNull(), max_iter,
                    "flow_accumulation").select("dem_id", "cell", "acc")


def _downstream(flow: DataFrame, *cols) -> DataFrame:
    """(dem_id, cell, p, *cols): the start state of the pointer-doubling
    loops -- p is each cell's D8 target, null at pits and where the
    target is not a cell of ``flow``."""
    step = 1 << _LON_BITS
    cells = flow.select("dem_id", F.col("cell").alias("p"),
                        F.lit(True).alias("_in"))
    return (flow.withColumn("p", F.when(F.col("flow_dir") >= 0,
                                        _flow_target(step)))
            .join(cells, ["dem_id", "p"], "left")
            .select("dem_id", "cell",
                    F.when(F.col("_in"), F.col("p")).alias("p"), *cols)
            .localCheckpoint(eager=False))


def _jump(new: DataFrame, cur: DataFrame, *at_p: str) -> DataFrame:
    """``new`` joined to ``cur``'s row of its pointer target: p becomes
    p(p), null past the end of the path, and each column c named in
    ``at_p`` arrives as ``c_at_p``, its value at the old p."""
    hop = cur.select("dem_id", F.col("cell").alias("p"),
                     F.col("p").alias("_pp"),
                     *[F.col(c).alias(f"{c}_at_p") for c in at_p])
    return (new.join(hop, ["dem_id", "p"], "left")
            .drop("p").withColumnRenamed("_pp", "p"))


def _flow_target(step: int):
    dirs = {d: (dla, dlo) for d, dla, dlo, _ in D8}
    return F.col("cell") + sum(
        F.when(F.col("flow_dir") == d, F.lit(dla * step + dlo))
        .otherwise(F.lit(0)) for d, (dla, dlo) in dirs.items())


def watershed(flow: DataFrame, max_iter: int = 40) -> DataFrame:
    """(dem_id, cell, basin, basin_size): watershed labeling -- every
    cell labeled by the pit/outlet cell its drainage path terminates at,
    plus the size of that basin.

    Pointer DOUBLING (path halving) over the functional flow forest:
    parent[pit] = itself, then parent <- parent[parent] each round, so
    depth-D paths resolve in O(log D) rounds (vs O(D) for the naive
    walk) -- the same trick vectorize.connected_components uses, here in
    its pure form because the graph is functional.  Each round is one
    self-equi-join of a three-column int64 table that carries the
    previous parent as ``old``, driven by
    :func:`~terraspark.fixpoint.fixpoint`; doubling resolves depth
    2^max_iter, so non-convergence means a cyclic flow input.  Basin
    sizes are one map-side-combinable count joined back broadcast
    (basins are few)."""
    step = 1 << _LON_BITS
    state = flow.select(
        "dem_id", "cell",
        F.when(F.col("flow_dir") >= 0, _flow_target(step))
        .otherwise(F.col("cell")).alias("p")).localCheckpoint(eager=False)

    def double(cur: DataFrame) -> DataFrame:
        hop = cur.select("dem_id", F.col("cell").alias("p"),
                         F.col("p").alias("gp"))
        return (cur.select("dem_id", "cell", "p").join(hop, ["dem_id", "p"])
                .select("dem_id", "cell", F.col("gp").alias("p"),
                        F.col("p").alias("old")))

    cur = fixpoint(state, double, F.col("p") != F.col("old"), max_iter,
                   "watershed")
    sizes = cur.groupBy("dem_id", F.col("p").alias("basin")) \
        .agg(F.count("*").cast("long").alias("basin_size"))
    return (cur.select("dem_id", "cell", F.col("p").alias("basin"))
            .join(F.broadcast(sizes), ["dem_id", "basin"])
            .select("dem_id", "cell", "basin", "basin_size"))


def ruggedness(elev: DataFrame) -> DataFrame:
    """(dem_id, cell, n_nbr, tri, relief): terrain ruggedness index --
    mean |elevation difference| to the existing 8-neighborhood (Riley
    TRI at cell granularity) plus local relief (neighborhood max-min
    spread including the cell itself).  Same map-side neighbor-key
    self-equi-join as :func:`flow_direction`; one groupBy, map-side
    combinable."""
    step = 1 << _LON_BITS
    deltas = ", ".join(f"{dla}L * {step}L + {dlo}L" for _, dla, dlo, _ in D8)
    nbr = (elev.select("dem_id", "cell", "elev",
                       F.explode(F.expr(f"array({deltas})")).alias("d"))
           .withColumn("target", F.col("cell") + F.col("d")))
    other = elev.select("dem_id", F.col("cell").alias("target"),
                        F.col("elev").alias("nelev"))
    j = nbr.join(other, ["dem_id", "target"])
    return (j.groupBy("dem_id", "cell")
            .agg(F.count("*").cast("long").alias("n_nbr"),
                 F.round(F.avg(F.abs(F.col("elev") - F.col("nelev"))), 6)
                 .alias("tri"),
                 F.round(F.greatest(F.max("nelev"), F.first("elev"))
                         - F.least(F.min("nelev"), F.first("elev")), 6)
                 .alias("relief")))


def focal_stats(elev: DataFrame, radius: int = 2) -> DataFrame:
    """(dem_id, cell, n_win, fmean, fstd, fmin, fmax, frange): focal
    window statistics over the (2r+1)^2 cell neighborhood INCLUDING the
    center -- the GRASS ``r.neighbors`` / ArcGIS Focal Statistics
    operator at cell granularity (the reference exposes only the 3x3
    slope/aspect window via execution_context.py:200-247; a generic
    focal window is the standard generalization).

    Distributed shape: the same map-side neighbor-key fan-out as
    :func:`ruggedness`, widened to radius r -- each cell emits (2r+1)^2
    delta-encoded keys, one equi-join against the elevation table, one
    map-side-combinable groupBy.  No window function, no skew (every
    cell has <= (2r+1)^2 candidates).  At 100 TB the cell table is
    ~10^7 narrow rows; the fan-out is a constant factor 25 on a small
    table, not a scale term.

    Determinism: count/min/max/range are exact; mean and std come from
    SUM / SUM-of-squares folds of exact f64s rounded at 6 / 4 dp (the
    stream-rollup finalization convention), so engine and oracle agree
    through the rounding."""
    step = 1 << _LON_BITS
    deltas = ", ".join(
        f"{dla}L * {step}L + {dlo}L"
        for dla in range(-radius, radius + 1)
        for dlo in range(-radius, radius + 1))
    nbr = (elev.select("dem_id", "cell",
                       F.explode(F.expr(f"array({deltas})")).alias("d"))
           .withColumn("target", F.col("cell") + F.col("d")))
    other = elev.select("dem_id", F.col("cell").alias("target"),
                        F.col("elev").alias("nelev"))
    j = nbr.join(other, ["dem_id", "target"])
    n = F.count("*").cast("double")
    s = F.sum("nelev")
    ss = F.sum(F.col("nelev") * F.col("nelev"))
    mean = s / n
    var = F.greatest(ss / n - mean * mean, F.lit(0.0))
    return (j.groupBy("dem_id", "cell")
            .agg(F.count("*").cast("long").alias("n_win"),
                 F.round(mean, 6).alias("fmean"),
                 F.round(F.sqrt(var), 4).alias("fstd"),
                 F.round(F.min("nelev"), 6).alias("fmin"),
                 F.round(F.max("nelev"), 6).alias("fmax"),
                 F.round(F.max("nelev") - F.min("nelev"), 6)
                 .alias("frange")))


def openness(elev: DataFrame, max_dist: int = 4) -> DataFrame:
    """(dem_id, cell, n_dir, horizon_mean, horizon_max): topographic
    horizon analysis (the tangent-scale form of positive openness,
    Yokoyama et al. 2002): along each of the 8 D8 directions, the
    horizon tangent is max over distance d = 1..max_dist of
    (elev_neighbor - elev) / (unit_len * d); per cell we report the
    mean and max horizon tangent over the directions that have at
    least one in-grid neighbor.  Tangent scale (not atan degrees)
    keeps every value a pure f64 arithmetic fold -- bit-identical
    between engine and oracle with no transcendental-libm dependency.

    Distributed shape: one map-side fan-out of 8 * max_dist delta keys
    per cell, one equi-join, two map-side-combinable groupBys (per
    (cell, dir) max, then per cell avg/max over <= 8 exact doubles).
    Border cells simply find fewer rows to join -- identical
    arithmetic on the oracle side."""
    step = 1 << _LON_BITS
    entries = ", ".join(
        f"named_struct('dir', {d}, "
        f"'delta', {dla * k}L * {step}L + {dlo * k}L, "
        f"'dist', CAST('{dist * k!r}' AS DOUBLE))"
        for d, dla, dlo, dist in D8 for k in range(1, max_dist + 1))
    nbr = (elev.select("dem_id", "cell", "elev",
                       F.explode(F.expr(f"array({entries})")).alias("s"))
           .withColumn("target", F.col("cell") + F.col("s.delta")))
    other = elev.select("dem_id", F.col("cell").alias("target"),
                        F.col("elev").alias("nelev"))
    j = nbr.join(other, ["dem_id", "target"])
    tan = (F.col("nelev") - F.col("elev")) / F.col("s.dist")
    per_dir = (j.groupBy("dem_id", "cell", F.col("s.dir").alias("dir"))
               .agg(F.max(tan).alias("ht")))
    return (per_dir.groupBy("dem_id", "cell")
            .agg(F.count("*").cast("long").alias("n_dir"),
                 F.round(F.avg("ht"), 6).alias("horizon_mean"),
                 F.round(F.max("ht"), 6).alias("horizon_max")))


def strahler(flow: DataFrame, acc: DataFrame, threshold: int = 5,
             max_iter: int = 256) -> DataFrame:
    """(dem_id, cell, acc, strahler): Strahler stream order over the
    extracted stream network -- the classic r.watershed / r.stream.order
    output that completes the flow_direction -> flow_accumulation ->
    watershed hydrology stack.

    Stream cells are those with accumulation >= threshold; stream edges
    are the D8 flow edges with BOTH endpoints in the stream set.  Order
    is the least fixpoint of the synchronous relaxation

        ord[c] = 1                          if c has no stream inflow
               = m + 1  if >= 2 inflows carry the max inflow order m
               = m      otherwise

    starting from all-1: the update is monotone and inputs only grow,
    so it converges to the Strahler order in <= depth(longest stream
    path) rounds.  Each round is one equi-join + two map-side-combinable
    groupBys over a three-column int64 table (max-count extracted via
    groupBy (dst, ord) counts -> max struct, no window function; the
    cell's own row carries the previous order into the second groupBy),
    driven by :func:`~terraspark.fixpoint.fixpoint`.  Round count is
    bounded by stream path length (a terrain property), not data
    size."""
    step = 1 << _LON_BITS
    stream = (acc.where(F.col("acc") >= threshold)
              .select("dem_id", "cell", "acc")
              .localCheckpoint(eager=False))
    scells = stream.select("dem_id", "cell")
    edges = (flow.join(scells, ["dem_id", "cell"])
             .where(F.col("flow_dir") >= 0)
             .select("dem_id", F.col("cell").alias("src"),
                     _flow_target(step).alias("dst"))
             .join(scells.select("dem_id", F.col("cell").alias("dst")),
                   ["dem_id", "dst"])
             .localCheckpoint(eager=False))

    def relax(cur: DataFrame) -> DataFrame:
        up = edges.join(
            cur.select("dem_id", F.col("cell").alias("src"),
                       F.col("ord").alias("uo")), ["dem_id", "src"])
        # count per (dst, order) first (<= 8 rows per dst, map-side
        # combinable), then max(struct(order, count)) picks the top
        # order together with its multiplicity -- no window needed.
        per_ord = (up.groupBy("dem_id", F.col("dst").alias("cell"), "uo")
                   .agg(F.count("*").cast("int").alias("cm")))
        top = (cur.select("dem_id", "cell", F.col("ord").alias("old"))
               .unionByName(per_ord, allowMissingColumns=True)
               .groupBy("dem_id", "cell")
               .agg(F.max(F.when(F.col("uo").isNotNull(),
                                 F.struct("uo", "cm"))).alias("t"),
                    F.max("old").alias("old")))
        return top.select(
            "dem_id", "cell",
            F.when(F.col("t").isNull(), F.lit(1))
            .when(F.col("t.cm") >= 2, F.col("t.uo") + 1)
            .otherwise(F.col("t.uo")).cast("int").alias("ord"), "old")

    cur = fixpoint(scells.withColumn("ord", F.lit(1).cast("int")), relax,
                   F.col("ord") != F.col("old"), max_iter, "strahler")
    return (stream.join(cur, ["dem_id", "cell"])
            .select("dem_id", "cell", "acc",
                    F.col("ord").alias("strahler")))


def flow_length(flow: DataFrame, max_iter: int = 512) -> DataFrame:
    """(dem_id, cell, flen): longest upstream flow-path length per cell
    (the r.watershed "length of flow path" output) -- the geometric
    distance (unit grid spacing, sqrt(2) diagonals) along the longest
    drainage path that terminates at each cell; headwater cells get 0.

    Pointer doubling, the :func:`flow_accumulation` loop with max-plus
    in place of the sum: every cell carries p, its 2^k-th downstream
    cell (null past the end of its path), d, the path length from the
    cell to p, and flen, the longest path into the cell from fewer than
    2^k steps upstream.  A round applies

        flen'(c) = max(flen(c), max(flen(w) + d(w) for w with p(w) = c))
        d'(w)    = d(w) + d(p(w))
        p'(w)    = p(p(w))

    so ``max_iter`` bounds ceil(log2(D + 1)) doubling rounds for a
    longest path of D steps, not D itself.

    Determinism: a candidate length is a sum of the same f64 step
    lengths as the recursive-CTE oracle's left fold along the path, in a
    tree-shaped association instead, so the two agree to ~1e-15 relative
    before the 6-dp round and exactly after it; MAX over f64s is
    order-free."""
    dist = F.lit(None).cast("double")
    for d, _, _, dl in reversed(D8):
        dist = F.when(F.col("flow_dir") == d,
                      F.expr(f"CAST('{dl!r}' AS DOUBLE)")).otherwise(dist)
    state = _downstream(flow, dist.alias("d"), F.lit(0.0).alias("flen"))

    def double(cur: DataFrame) -> DataFrame:
        up = cur.where(F.col("p").isNotNull()).select(
            "dem_id", F.col("p").alias("cell"),
            (F.col("flen") + F.col("d")).alias("flen"))
        new = (cur.unionByName(up, allowMissingColumns=True)
               .groupBy("dem_id", "cell")
               .agg(F.max("p").alias("p"), F.max("d").alias("d"),
                    F.max("flen").alias("flen")))
        return _jump(new, cur, "d").select(
            "dem_id", "cell", "p", (F.col("d") + F.col("d_at_p")).alias("d"),
            "flen")

    cur = fixpoint(state, double, F.col("p").isNotNull(), max_iter,
                   "flow_length")
    return cur.select("dem_id", "cell", F.round("flen", 6).alias("flen"))


def cost_distance(elev: DataFrame, seeds: DataFrame,
                  max_iter: int = 512) -> DataFrame:
    """(dem_id, cell, cost): accumulated-cost distance from the nearest
    seed cell over the 8-connected cell grid -- the GRASS ``r.cost``
    operator (cost surface = cell mean elevation; stepping src -> dst
    costs (elev_src + elev_dst) * 0.5 * metric_len with metric_len 1 or
    sqrt(2) for diagonals, r.cost's average-cell rule).

    Distributed shape: Bellman-Ford relaxation over the materialized
    weighted edge list -- per round one equi-join (edges x current
    costs) + one map-side-combinable MIN per destination over the
    candidates and the cell's own previous cost (tagged ``old``),
    driven by :func:`~terraspark.fixpoint.fixpoint`.  Round count is
    bounded by the longest optimal path's hop count (grid diameter),
    not data size; edges are 8 x cells narrow int64/f64 rows built
    map-side (no shuffle to construct).

    Determinism: every candidate cost is the fold of the identical f64
    expression sequence along its path (seed -> ... -> cell), and MIN
    over a set of exact f64s is order-free, so engine and the unrolled
    SQL oracle agree bit-for-bit before the final 6-dp round.

    ``seeds``: (dem_id, cell) rows, cost 0 -- e.g. the D8 pits of
    :func:`flow_direction` (cost-to-nearest-sink).
    """
    step = 1 << _LON_BITS
    structs = ", ".join(
        f"named_struct('d', {dla}L * {step}L + {dlo}L, "
        f"'len', CAST('{dist!r}' AS DOUBLE))"
        for _, dla, dlo, dist in D8)
    nbr = (elev.select("dem_id", "cell", "elev",
                       F.explode(F.expr(f"array({structs})")).alias("s"))
           .withColumn("dst", F.col("cell") + F.col("s.d")))
    other = elev.select("dem_id", F.col("cell").alias("dst"),
                        F.col("elev").alias("delev"))
    edges = (nbr.join(other, ["dem_id", "dst"])
             .select("dem_id", F.col("cell").alias("src"), "dst",
                     ((F.col("elev") + F.col("delev")) * F.lit(0.5)
                      * F.col("s.len")).alias("w"))
             .localCheckpoint(eager=False))
    inf = float("inf")
    d = (elev.select("dem_id", "cell")
         .join(seeds.select("dem_id", "cell")
               .withColumn("_s", F.lit(True)), ["dem_id", "cell"], "left")
         .select("dem_id", "cell",
                 F.when(F.col("_s"), F.lit(0.0)).otherwise(F.lit(inf))
                 .alias("cost"))
         .localCheckpoint(eager=False))

    def relax(cur: DataFrame) -> DataFrame:
        via = edges.join(
            cur.select("dem_id", F.col("cell").alias("src"),
                       F.col("cost").alias("sc")), ["dem_id", "src"]) \
            .select("dem_id", F.col("dst").alias("cell"),
                    (F.col("sc") + F.col("w")).alias("cost"))
        return (cur.select("dem_id", "cell", "cost",
                           F.col("cost").alias("old"))
                .unionByName(via, allowMissingColumns=True)
                .groupBy("dem_id", "cell")
                .agg(F.min("cost").alias("cost"), F.max("old").alias("old")))

    d = fixpoint(d, relax, F.col("cost") != F.col("old"), max_iter,
                 "cost_distance")
    return d.select("dem_id", "cell", F.round("cost", 6).alias("cost"))


def shadow_mask(elev: DataFrame, sun_dir: int = 3, sun_tan: float = 0.25,
                max_dist: int = 4) -> DataFrame:
    """(dem_id, cell, horizon_tan, shadowed): cast-shadow detection for
    topographic correction -- a cell is shadowed when the terrain
    horizon toward the sun rises above the sun's elevation angle, i.e.
    max over d = 1..max_dist of (elev_nbr - elev) / (unit_len * d)
    along the sun-azimuth D8 direction exceeds tan(sun elevation).
    Shadow masking is the standard pre-step before the reference's
    illumination corrections (cos-i goes negative / meaningless in cast
    shadow; the reference's kernels only see self-shadowing via cos-i,
    processing_alg/execution_context.py:200-247).

    Tangent scale end-to-end (sun_tan, not degrees): the comparison is
    a pure f64 predicate over the same left-fold both engines compute,
    so no transcendental enters the contract.

    Distributed shape: the single-direction slice of :func:`openness`
    -- max_dist delta keys per cell, one equi-join, one
    map-side-combinable MAX.  Border cells with no in-grid neighbor
    toward the sun get horizon_tan = -inf semantics (never shadowed),
    reported as NULL-free 0-row absence -> LEFT JOIN back, shadowed
    false."""
    step = 1 << _LON_BITS
    by_dir = {d: (dla, dlo, dist) for d, dla, dlo, dist in D8}
    dla, dlo, dist = by_dir[sun_dir]
    entries = ", ".join(
        f"named_struct('delta', {dla * k}L * {step}L + {dlo * k}L, "
        f"'dist', CAST('{dist * k!r}' AS DOUBLE))"
        for k in range(1, max_dist + 1))
    nbr = (elev.select("dem_id", "cell", "elev",
                       F.explode(F.expr(f"array({entries})")).alias("s"))
           .withColumn("target", F.col("cell") + F.col("s.delta")))
    other = elev.select("dem_id", F.col("cell").alias("target"),
                        F.col("elev").alias("nelev"))
    tan = (F.col("nelev") - F.col("elev")) / F.col("s.dist")
    ht = (nbr.join(other, ["dem_id", "target"])
          .groupBy("dem_id", "cell").agg(F.max(tan).alias("ht")))
    thresh = F.expr(f"CAST('{sun_tan!r}' AS DOUBLE)")
    return (elev.select("dem_id", "cell")
            .join(ht, ["dem_id", "cell"], "left")
            .select("dem_id", "cell",
                    F.round(F.coalesce("ht", F.lit(0.0)), 6)
                    .alias("horizon_tan"),
                    F.coalesce(F.col("ht") > thresh, F.lit(False))
                    .alias("shadowed")))


def curvature(elev: DataFrame) -> DataFrame:
    """(dem_id, cell, profile_c, plan_c): Zevenbergen & Thorne (1987)
    profile and plan curvature over the 3x3 cell window (unit grid
    spacing) -- the cell-granularity counterpart of the pixel-level
    slope/aspect window in dem.py (same 9-point stencil, next
    derivative order).  Only cells with a full 8-neighborhood are
    emitted (curvature at a grid border is undefined in the 9-point
    scheme; GDAL's -compute_edges interpolation is a display nicety,
    not analysis).

    Stencil (ilat +1 = north): z1 z2 z3 / z4 z5 z6 / z7 z8 z9 with z2
    north, z4 west.  D = ((z4+z6)/2 - z5), E = ((z2+z8)/2 - z5),
    Fc = (-z1+z3+z7-z9)/4, G = (-z4+z6)/2, H = (z2-z8)/2;
    profile = -2(D G^2 + E H^2 + Fc G H) / (G^2+H^2),
    plan    =  2(D H^2 + E G^2 - Fc G H) / (G^2+H^2), 0 on flat
    (G=H=0).  One 8-offset neighbor join + one pivot groupBy --
    identical arithmetic in the SQL oracle."""
    step = 1 << _LON_BITS
    #      stencil position -> (dlat, dlon)
    pos = {1: (1, -1), 2: (1, 0), 3: (1, 1),
           4: (0, -1), 6: (0, 1),
           7: (-1, -1), 8: (-1, 0), 9: (-1, 1)}
    entries = ", ".join(
        f"named_struct('p', {p}, 'delta', {dla}L * {step}L + {dlo}L)"
        for p, (dla, dlo) in pos.items())
    nbr = (elev.select("dem_id", "cell", "elev",
                       F.explode(F.expr(f"array({entries})")).alias("s"))
           .withColumn("target", F.col("cell") + F.col("s.delta")))
    other = elev.select("dem_id", F.col("cell").alias("target"),
                        F.col("elev").alias("nelev"))
    j = nbr.join(other, ["dem_id", "target"])
    z = {p: F.max(F.when(F.col("s.p") == p, F.col("nelev")))
         for p in pos}
    piv = (j.groupBy("dem_id", "cell")
           .agg(F.count("*").alias("n_nbr"),
                F.first("elev").alias("z5"),
                *[z[p].alias(f"z{p}") for p in pos])
           .where(F.col("n_nbr") == 8))
    D = (F.col("z4") + F.col("z6")) / 2 - F.col("z5")
    E = (F.col("z2") + F.col("z8")) / 2 - F.col("z5")
    Fc = (-F.col("z1") + F.col("z3") + F.col("z7") - F.col("z9")) / 4
    G = (-F.col("z4") + F.col("z6")) / 2
    H = (F.col("z2") - F.col("z8")) / 2
    g2h2 = G * G + H * H
    prof = F.when(g2h2 > 0,
                  F.lit(-2.0) * (D * G * G + E * H * H + Fc * G * H)
                  / g2h2).otherwise(0.0)
    plan = F.when(g2h2 > 0,
                  F.lit(2.0) * (D * H * H + E * G * G - Fc * G * H)
                  / g2h2).otherwise(0.0)
    return piv.select("dem_id", "cell",
                      F.round(prof, 6).alias("profile_c"),
                      F.round(plan, 6).alias("plan_c"))


def wetness_index(flow: DataFrame, acc: DataFrame,
                  eps: float = 0.001) -> DataFrame:
    """(dem_id, cell, acc, twi): topographic wetness index
    ln(contributing_area / local_slope_tangent) -- the standard soil-
    moisture / saturation proxy (Beven & Kirkby 1979, the r.topidx /
    SAGA "Topographic Wetness Index" output) and a direct consumer of
    the two hydrology primitives already in this module.

    The reference stops at slope/aspect as correction inputs
    (/root/reference/processing_alg/execution_context.py:200-247); TWI
    is the natural next derived layer over the same cell grid.

    Semantics: contributing area = D8 flow accumulation (cell count,
    unit cell area); local slope tangent = the steepest-descent drop
    from :func:`flow_direction` (already distance-normalized, so it IS
    tan(beta) on the unit grid); pits (drop = 0) are regularized with
    ``eps`` exactly like r.topidx's minimum-slope floor:

        twi = ln(acc / (drop + eps))

    Distributed shape: one equi-join of two (dem_id, cell, scalar)
    tables that share the flow-routing partitioning, then a pure
    column expression -- no new shuffle beyond the inputs' own.  ln is
    the only transcendental and both engines delegate to libm, so the
    6-dp round is deterministic (the dp_token_entropy convention)."""
    eps_lit = F.expr(f"CAST('{eps!r}' AS DOUBLE)")
    return (flow.select("dem_id", "cell", "drop")
            .join(acc, ["dem_id", "cell"])
            .select("dem_id", "cell", "acc",
                    F.round(F.log(F.col("acc") / (F.col("drop") + eps_lit)),
                            6).alias("twi")))


def viewshed(elev: DataFrame, max_dist: int = 4) -> DataFrame:
    """(dem_id, cell, n_rays, n_visible, horizon_tan): 8-ray
    line-of-sight viewshed statistics -- for every cell, along each D8
    ray at distances 1..max_dist, a target is VISIBLE when its
    elevation tangent from the observer strictly exceeds every nearer
    tangent on the same ray (the r.viewshed / GRASS line-of-sight rule
    restricted to the 8 principal rays).

    n_rays counts in-grid targets, n_visible the visible ones, and
    horizon_tan is the max tangent over all rays (the all-direction
    horizon, openness' max slice).  Region grids are rectangles, so
    ray existence is prefix-closed: t_k present implies t_1..t_{k-1}
    present, and the strict-> prefix-max rule is well defined.

    Distributed shape: the :func:`openness` join (8 * max_dist delta
    keys per cell, one equi-join), then a (cell, dir) pivot groupBy
    and a final per-cell groupBy -- both map-side-combinable; the
    prefix-max visibility test is a closed-form CASE over the pivoted
    t_1..t_max columns (no window function, no iteration).  Pure f64
    ratio arithmetic -- no transcendental in the visibility predicate."""
    step = 1 << _LON_BITS
    entries = ", ".join(
        f"named_struct('dir', {d}, 'k', {k}, "
        f"'delta', {dla * k}L * {step}L + {dlo * k}L, "
        f"'dist', CAST('{dist * k!r}' AS DOUBLE))"
        for d, dla, dlo, dist in D8 for k in range(1, max_dist + 1))
    nbr = (elev.select("dem_id", "cell", "elev",
                       F.explode(F.expr(f"array({entries})")).alias("s"))
           .withColumn("target", F.col("cell") + F.col("s.delta")))
    other = elev.select("dem_id", F.col("cell").alias("target"),
                        F.col("elev").alias("nelev"))
    tan = (F.col("nelev") - F.col("elev")) / F.col("s.dist")
    t = {k: F.max(F.when(F.col("s.k") == k, tan))
         for k in range(1, max_dist + 1)}
    ray = (nbr.join(other, ["dem_id", "target"])
           .groupBy("dem_id", "cell", F.col("s.dir").alias("dir"))
           .agg(F.count("*").alias("n_t"),
                *[t[k].alias(f"t{k}") for k in range(1, max_dist + 1)]))
    vis = F.lit(1)  # t1: nearest target on an existing ray, always seen
    for k in range(2, max_dist + 1):
        # prefix-closed rays: t_k non-null implies t_1..t_{k-1} non-null,
        # so prior is never null when the comparison matters; a null t_k
        # (ray left the grid) makes the WHEN condition null -> +0.
        prior = (F.col("t1") if k == 2 else
                 F.greatest(*[F.col(f"t{j}") for j in range(1, k)]))
        vis = vis + F.when(F.col(f"t{k}") > prior, 1).otherwise(0)
    per_dir = ray.select(
        "dem_id", "cell", "n_t", vis.alias("nv"),
        F.greatest(*[F.col(f"t{k}")
                     for k in range(1, max_dist + 1)]).alias("ht"))
    return (elev.select("dem_id", "cell")
            .join(per_dir.groupBy("dem_id", "cell")
                  .agg(F.sum("n_t").cast("long").alias("n_rays"),
                       F.sum("nv").cast("long").alias("n_visible"),
                       F.max("ht").alias("ht")),
                  ["dem_id", "cell"], "left")
            .select("dem_id", "cell",
                    F.coalesce("n_rays", F.lit(0)).cast("long")
                    .alias("n_rays"),
                    F.coalesce("n_visible", F.lit(0)).cast("long")
                    .alias("n_visible"),
                    F.round(F.coalesce("ht", F.lit(0.0)), 6)
                    .alias("horizon_tan")))


def fill_sinks(elev: DataFrame, max_iter: int = 64) -> DataFrame:
    """(dem_id, cell, elev, filled, fill_depth): depression filling by
    the Planchon-Darboux fixpoint (the GRASS r.fill.dir / RichDEM
    epsilon=0 rule) -- the preprocessing step every production flow
    model runs BEFORE :func:`flow_direction`, so spurious pits don't
    truncate drainage.

    The reference stops at slope/aspect (/root/reference/processing_alg/
    execution_context.py:200-247); filling completes the standard
    fill -> flow -> accumulate hydrology chain over the same cell grid.

    Semantics: boundary cells (fewer than 8 in-grid neighbors) are
    fixed at their own elevation; interior water levels start at the
    per-DEM maximum and relax monotonically through

        W(c) = max(elev(c), min over 8 neighbors of W(n))

    until nothing changes.  The fixpoint is the filled surface: pits
    rise to their pour-point elevation, everything else returns to
    elev.  Values are pure min/max selections of input doubles -- no
    arithmetic -- so engine and oracle agree bit-for-bit and the
    equality-based convergence test is exact.

    Distributed shape: one 8-neighbor equi-join + one MIN groupBy per
    round, into which each cell's own row (elev, boundary flag, previous
    level) is unioned, driven by :func:`~terraspark.fixpoint.fixpoint`.
    Round count is bounded by pit pour-path length (terrain, not data
    size); an unconverged exit raises rather than returning a wrong
    surface."""
    step = 1 << _LON_BITS
    deltas = [dla * step + dlo for _, dla, dlo, _ in D8]
    dlist = ", ".join(f"{d}L" for d in deltas)
    # checkpointed once: every relaxation round re-joins this fan-out,
    # and without the checkpoint each round would re-derive it from
    # elev's full upstream plan (the flow_accumulation edges convention)
    nbr = (elev.select("dem_id", "cell",
                       F.explode(F.expr(f"array({dlist})")).alias("d"))
           .withColumn("target", F.col("cell") + F.col("d"))
           .localCheckpoint(eager=False))
    present = elev.select("dem_id", F.col("cell").alias("target"),
                          F.col("elev").alias("nelev"))
    deg = (nbr.join(present, ["dem_id", "target"])
           .groupBy("dem_id", "cell")
           .agg(F.count("*").alias("n_nbr")))
    top = elev.groupBy("dem_id").agg(F.max("elev").alias("wmax"))
    # every cell kept here has an in-grid neighbor that is kept too, so
    # each round's neighbor MIN below is never empty
    w = (elev.join(deg, ["dem_id", "cell"])
         .join(F.broadcast(top), "dem_id")
         .select("dem_id", "cell", "elev",
                 (F.col("n_nbr") < 8).alias("boundary"),
                 F.when(F.col("n_nbr") < 8, F.col("elev"))
                 .otherwise(F.col("wmax")).alias("w"))
         .localCheckpoint(eager=False))

    def relax(cur: DataFrame) -> DataFrame:
        nw = nbr.join(cur.select("dem_id", F.col("cell").alias("target"),
                                 F.col("w").alias("nw")),
                      ["dem_id", "target"]).select("dem_id", "cell", "nw")
        g = (cur.select("dem_id", "cell", "elev", "boundary",
                        F.col("w").alias("old"))
             .unionByName(nw, allowMissingColumns=True)
             .groupBy("dem_id", "cell")
             .agg(F.max("elev").alias("elev"),
                  F.max("boundary").alias("boundary"),
                  F.min("nw").alias("mn"), F.max("old").alias("old")))
        return g.select("dem_id", "cell", "elev", "boundary",
                        F.when(F.col("boundary"), F.col("elev"))
                        .otherwise(F.greatest("elev", "mn")).alias("w"),
                        "old")

    w = fixpoint(w, relax, F.col("w") != F.col("old"), max_iter,
                 "fill_sinks").select("dem_id", "cell", "w")
    # 6-dp presentation round: elev means carry batch-reduction low-bit
    # noise (~1e-13) relative to the per-row numpy model, and filled is
    # a selection among them; the relaxation itself runs on raw f64s.
    return (elev.join(w, ["dem_id", "cell"])
            .select("dem_id", "cell",
                    F.round("elev", 6).alias("elev"),
                    F.round("w", 6).alias("filled"),
                    F.round(F.col("w") - F.col("elev"), 6)
                    .alias("fill_depth")))


def hypsometry(elev: DataFrame, bins: int = 10) -> DataFrame:
    """(dem_id, bin, n_cells, area_frac, rel_mean): hypsometric
    distribution -- the area share of each relative-elevation band,
    the curve geomorphologists read basin maturity from (Strahler's
    hypsometric analysis; the `gdalinfo -hist` / r.hypso shape).

    bin = floor((elev - min) / (max - min) * bins), clamped to
    bins - 1 (flat DEMs collapse to bin 0); rel_mean is the mean
    relative elevation within the band, 6-dp.

    Distributed shape: one tiny per-DEM min/max agg broadcast back,
    then a single map-side-combinable groupBy -- two narrow shuffles
    regardless of raster size."""
    mm = elev.groupBy("dem_id").agg(F.min("elev").alias("lo"),
                                    F.max("elev").alias("hi"))
    rel = (elev.join(F.broadcast(mm), "dem_id")
           .select("dem_id",
                   F.when(F.col("hi") > F.col("lo"),
                          (F.col("elev") - F.col("lo"))
                          / (F.col("hi") - F.col("lo")))
                   .otherwise(F.lit(0.0)).alias("r")))
    b = F.least(F.floor(F.col("r") * bins).cast("int"), F.lit(bins - 1))
    return (rel.groupBy("dem_id", b.alias("bin"))
            .agg(F.count("*").cast("long").alias("n_cells"),
                 F.round(F.sum("r") / F.count("*"), 6).alias("rel_mean"))
            .join(F.broadcast(elev.groupBy("dem_id")
                              .agg(F.count("*").alias("tot"))), "dem_id")
            .select("dem_id", "bin", "n_cells",
                    F.round(F.col("n_cells") / F.col("tot"), 6)
                    .alias("area_frac"),
                    "rel_mean"))


def sky_view_factor(elev: DataFrame, max_dist: int = 4) -> DataFrame:
    """(dem_id, cell, n_dir, svf): sky-view factor -- the fraction of
    the sky hemisphere visible from each cell (SAGA "Sky View Factor",
    Zaksek et al. 2011, 8-direction discretization): per direction the
    visible sky is 1 - sin(horizon angle), and with the horizon known
    by its TANGENT t that is 1 - t/sqrt(1+t^2) -- pure f64 arithmetic
    (sqrt only, no trig), so engine and oracle agree bit-for-bit.
    Negative horizons (ridgelines: terrain falls away in every
    sampled direction) clamp to 0, the flat-horizon convention.

    svf = mean over in-grid directions of 1 - max(t,0)/sqrt(1+t^2),
    6-dp.  Consumes the :func:`openness` join shape unchanged -- one
    delta-key fan-out, one equi-join, two map-side-combinable
    groupBys."""
    step = 1 << _LON_BITS
    entries = ", ".join(
        f"named_struct('dir', {d}, "
        f"'delta', {dla * k}L * {step}L + {dlo * k}L, "
        f"'dist', CAST('{dist * k!r}' AS DOUBLE))"
        for d, dla, dlo, dist in D8 for k in range(1, max_dist + 1))
    nbr = (elev.select("dem_id", "cell", "elev",
                       F.explode(F.expr(f"array({entries})")).alias("s"))
           .withColumn("target", F.col("cell") + F.col("s.delta")))
    other = elev.select("dem_id", F.col("cell").alias("target"),
                        F.col("elev").alias("nelev"))
    j = nbr.join(other, ["dem_id", "target"])
    tan = (F.col("nelev") - F.col("elev")) / F.col("s.dist")
    per_dir = (j.groupBy("dem_id", "cell", F.col("s.dir").alias("dir"))
               .agg(F.max(tan).alias("ht")))
    t = F.greatest(F.col("ht"), F.lit(0.0))
    sky = 1.0 - t / F.sqrt(1.0 + t * t)
    return (per_dir.groupBy("dem_id", "cell")
            .agg(F.count("*").cast("long").alias("n_dir"),
                 F.round(F.avg(sky), 6).alias("svf")))


def solar_access(elev: DataFrame, sun_tan: float = 0.25,
                 max_dist: int = 4) -> DataFrame:
    """(dem_id, cell, n_dir, n_lit, lit_frac): sun-path sampling -- for
    each of the 8 D8 azimuths at a fixed solar elevation angle (given
    as a TANGENT, the shadow_mask convention), the cell is lit from
    that azimuth when the terrain horizon tangent stays at or below
    sun_tan.  lit_frac approximates daily sun-hours the way r.sun's
    discrete sun positions do; it feeds site-selection and the
    illumination-correction confidence weighting.

    Pure f64 ratio folds + one predicate per direction -- no
    transcendental.  Reuses the :func:`openness` join shape: one
    delta-key fan-out, one equi-join, two map-side-combinable
    groupBys."""
    step = 1 << _LON_BITS
    entries = ", ".join(
        f"named_struct('dir', {d}, "
        f"'delta', {dla * k}L * {step}L + {dlo * k}L, "
        f"'dist', CAST('{dist * k!r}' AS DOUBLE))"
        for d, dla, dlo, dist in D8 for k in range(1, max_dist + 1))
    nbr = (elev.select("dem_id", "cell", "elev",
                       F.explode(F.expr(f"array({entries})")).alias("s"))
           .withColumn("target", F.col("cell") + F.col("s.delta")))
    other = elev.select("dem_id", F.col("cell").alias("target"),
                        F.col("elev").alias("nelev"))
    tan = (F.col("nelev") - F.col("elev")) / F.col("s.dist")
    per_dir = (nbr.join(other, ["dem_id", "target"])
               .groupBy("dem_id", "cell", F.col("s.dir").alias("dir"))
               .agg(F.max(tan).alias("ht")))
    thresh = F.expr(f"CAST('{sun_tan!r}' AS DOUBLE)")
    lit = F.when(F.col("ht") <= thresh, 1).otherwise(0)
    return (per_dir.groupBy("dem_id", "cell")
            .agg(F.count("*").cast("long").alias("n_dir"),
                 F.sum(lit).cast("long").alias("n_lit"))
            .select("dem_id", "cell", "n_dir", "n_lit",
                    F.round(F.col("n_lit") / F.col("n_dir"), 6)
                    .alias("lit_frac")))


def stream_segments(flow: DataFrame, acc: DataFrame,
                    threshold: int = 5, max_iter: int = 40) -> DataFrame:
    """(dem_id, segment, n_cells, seg_len): stream-network segment
    extraction -- the raster->vector step of r.to.vect/r.stream.order
    pipelines.  Stream cells are acc >= threshold; a segment is a
    maximal chain of stream cells broken at JUNCTIONS (stream cells
    receiving >= 2 stream inflows), labeled by its downstream end cell;
    seg_len sums the D8 step lengths of the edges inside the segment.

    Distributed shape: the flow frame is rewritten so chains STOP at
    junction boundaries (flow_dir := -1 where the downstream stream
    cell has stream-inflow != 1), then :func:`watershed`'s pointer
    doubling labels every cell with its segment end in O(log depth)
    rounds -- no new machinery; segment length is one
    map-side-combinable SUM over the continuing edges joined back to
    their source's label."""
    step = 1 << _LON_BITS
    streams = (flow.join(acc, ["dem_id", "cell"])
               .where(F.col("acc") >= threshold)
               .select("dem_id", "cell", "flow_dir")
               .localCheckpoint())
    sset = streams.select("dem_id", F.col("cell").alias("dst"))
    dist = sum(F.when(F.col("flow_dir") == d,
                      F.expr(f"CAST('{dd!r}' AS DOUBLE)"))
               .otherwise(F.lit(0.0)) for d, _, _, dd in D8)
    sedges = (streams.where(F.col("flow_dir") >= 0)
              .select("dem_id", F.col("cell").alias("src"),
                      _flow_target(step).alias("dst"),
                      dist.alias("d"))
              .join(sset, ["dem_id", "dst"]))
    sin = sedges.groupBy("dem_id", F.col("dst").alias("cell")) \
        .agg(F.count("*").alias("n_in"))
    cont = (sedges.join(sin.select("dem_id",
                                   F.col("cell").alias("dst"), "n_in"),
                        ["dem_id", "dst"])
            .where(F.col("n_in") == 1)
            .select("dem_id", "src", "dst", "d")
            .localCheckpoint())
    # rewrite the flow so only CONTINUING edges keep their direction
    mod = (streams.join(cont.select("dem_id",
                                    F.col("src").alias("cell"),
                                    F.lit(1).alias("go")),
                        ["dem_id", "cell"], "left")
           .select("dem_id", "cell",
                   F.when(F.col("go").isNotNull(), F.col("flow_dir"))
                   .otherwise(F.lit(-1)).cast("int").alias("flow_dir")))
    seg = watershed(mod, max_iter=max_iter) \
        .select("dem_id", "cell", F.col("basin").alias("segment"),
                F.col("basin_size").alias("n_cells"))
    slen = (cont.join(seg.select("dem_id", F.col("cell").alias("src"),
                                 "segment"), ["dem_id", "src"])
            .groupBy("dem_id", "segment")
            .agg(F.round(F.sum("d"), 6).alias("seg_len")))
    return (seg.select("dem_id", "segment", "n_cells").distinct()
            .join(slen, ["dem_id", "segment"], "left")
            .select("dem_id", "segment", "n_cells",
                    F.round(F.coalesce("seg_len", F.lit(0.0)), 6)
                    .alias("seg_len")))


def hand(elev: DataFrame, flow: DataFrame, acc: DataFrame,
         threshold: int = 5, max_iter: int = 64) -> DataFrame:
    """(dem_id, cell, reached, dist_to_stream, hand): Height Above
    Nearest Drainage (Rennó et al. 2008; r.stream.distance) -- walk
    each cell's D8 flow path downstream to the FIRST stream cell
    (acc >= threshold); hand = own elevation minus that stream cell's,
    dist_to_stream = the summed step lengths of the walk.  The flood-
    risk / riparian-zone layer every hydrology stack ends with.
    Cells whose path dead-ends in a non-stream pit report
    reached = false with NULL distance/hand.

    Distributed shape: an absorbing one-step relaxation -- per round,
    rows whose walk position is not yet a stream cell (and still has a
    flow edge) advance one hop carrying (position, accumulated f64
    distance); stream positions absorb.  One left join per round against
    the flow edges that leave non-stream cells, over a five-column frame
    that carries the previous position, driven by
    :func:`~terraspark.fixpoint.fixpoint` (rounds are bounded by
    flow-path length, not data size).
    The sequential one-hop fold keeps the f64 distance association
    identical to the oracle's recursive walk."""
    step = 1 << _LON_BITS
    sset = (acc.where(F.col("acc") >= threshold)
            .select("dem_id", F.col("cell").alias("cur"),
                    F.lit(True).alias("is_stream"))
            .localCheckpoint(eager=False))
    dist = sum(F.when(F.col("flow_dir") == d,
                      F.expr(f"CAST('{dd!r}' AS DOUBLE)"))
               .otherwise(F.lit(0.0)) for d, _, _, dd in D8)
    # the walk advances exactly along edges out of non-stream cells
    adv = (flow.where(F.col("flow_dir") >= 0)
           .select("dem_id", F.col("cell").alias("cur"),
                   _flow_target(step).alias("dst"), dist.alias("d"))
           .join(sset, ["dem_id", "cur"], "left_anti")
           .localCheckpoint(eager=False))
    state = elev.select("dem_id", "cell", F.col("cell").alias("cur"),
                        F.lit(0.0).alias("dist"))

    def walk(cur: DataFrame) -> DataFrame:
        moves = F.col("dst").isNotNull()
        return (cur.select("dem_id", "cell", "cur", "dist")
                .join(adv, ["dem_id", "cur"], "left")
                .select("dem_id", "cell",
                        F.when(moves, F.col("dst")).otherwise(F.col("cur"))
                        .alias("cur"),
                        F.when(moves, F.col("dist") + F.col("d"))
                        .otherwise(F.col("dist")).alias("dist"),
                        F.col("cur").alias("old")))

    state = fixpoint(state, walk, F.col("cur") != F.col("old"), max_iter,
                     "hand")
    send = elev.select("dem_id", F.col("cell").alias("cur"),
                       F.col("elev").alias("send"))
    return (elev.join(state.select("dem_id", "cell", "cur", "dist"),
                      ["dem_id", "cell"])
            .join(sset.select("dem_id", "cur", "is_stream"),
                  ["dem_id", "cur"], "left")
            .join(send, ["dem_id", "cur"])
            .select("dem_id", "cell",
                    F.coalesce("is_stream", F.lit(False))
                    .alias("reached"),
                    F.when(F.col("is_stream"),
                           F.round(F.col("dist"), 6))
                    .alias("dist_to_stream"),
                    F.when(F.col("is_stream"),
                           F.round(F.col("elev") - F.col("send"), 6))
                    .alias("hand")))
