"""DEM hydrology over the cell index: D8 flow routing (per-cell
steepest-descent flow direction + inflow degree) and the operators built
on it -- flow accumulation, watershed labeling, stream extraction, sink
filling -- plus the local terrain statistics.

The reference ships DEM analytics only as slope/aspect inputs to the
corrections (/root/reference/processing_alg/execution_context.py:200-247);
flow routing is the natural next operator over the same cell-indexed DEM.
Routing and the neighbourhood statistics are an 8-neighbor self-equi-join
on cell keys generated map-side (the join form of the pixel kernels' halo
exchange), hash-partitioned on (dem_id, cell): no skew, every cell has
at most 8 candidates.

The five flow operators (flow_accumulation, watershed, flow_length,
strahler, fill_sinks) are block-local (Barnes 2016): cells are keyed to
_BLOCK x _BLOCK blocks from each DEM's minimum (ilat, ilon), each
block-edge cell is copied into every neighbouring block as a read-only
halo ring, and one applyInPandas call per (dem_id, block) solves the
block in numpy with the halo held fixed.  The fixpoint driver repeats
rounds only while values cross block edges, so ``max_iter`` bounds
block-edge crossings, a one-block DEM settles in one round, and a group
holds at most (_BLOCK + 2)^2 rows.

Direction semantics (grid-index deltas; ilat +1 = north, ilon +1 = east):
dir 0..7 = E, NE, N, NW, W, SW, S, SE; dist = sqrt(2) on diagonals; the
chosen direction maximizes drop = (elev - elev_neighbor) / dist over
neighbors with drop > 0; ties break to the LOWEST dir index; cells with
no positive drop (pits, plateaus, region borders falling off the grid)
get flow_dir = -1.  Neighbors that leave the DEM region simply find no
row to join -- identical arithmetic on the oracle side.
"""
from __future__ import annotations

import heapq
import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
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

    flow: (dem_id, cell, flow_dir, ...) from :func:`flow_direction`, a
    functional forest; a path whose next cell is not a row of ``flow``
    ends there, as at a pit.  Each block is one topological sweep,
    acc = 1 + the sum of the inflows' acc -- exact integers."""
    state = _blocks(flow.select("dem_id", "cell", "flow_dir")).select(
        "*", F.lit(1).cast("long").alias("acc"), F.lit(False).alias("ok"))
    return _block_fixpoint(state, _acc_kernel, max_iter,
                           "flow_accumulation").select("dem_id", "cell", "acc")


def _acc_kernel(pdf: pd.DataFrame, own: np.ndarray) -> np.ndarray:
    acc = _halo(pdf, own, "acc", 1)
    ok = _halo(pdf, own, "ok", True).astype(bool)

    def visit(src, dst):
        np.add.at(acc, dst, acc[src])
    pdf["ok"] = ok & _sweep(pdf, own, visit, ok)
    pdf["acc"] = acc
    return own


def watershed(flow: DataFrame, max_iter: int = 40) -> DataFrame:
    """(dem_id, cell, basin, basin_size): watershed labeling -- every
    cell labeled by the pit/outlet cell its drainage path terminates at,
    plus the size of that basin.  A cell whose path reaches a target
    that is not a row of ``flow`` is dropped, with its whole upstream; a
    flow_dir past 7 marks a pit.  Per block, numpy pointer doubling
    hands every cell the label of the pit, or halo cell, its path ends
    at (k + 1 rounds for a basin spanning k block edges); sizes are
    counted afterwards.  On a flow cycle within one block, doubling
    settles iff the cycle's length is a power of two, as it would over
    the whole frame; a path reaching a cycle across a block edge never
    settles."""
    state = _blocks(flow.select("dem_id", "cell", "flow_dir")).select(
        "*", F.col("cell").alias("basin"),
        *[F.lit(False).alias(c) for c in ("gone", "cyc", "done")])
    cur = _block_fixpoint(state, _basin_kernel, max_iter, "watershed",
                          ~F.col("done")).where(~F.col("gone"))
    return cur.select("dem_id", "cell", "basin", F.count("*").over(
        Window.partitionBy("dem_id", "basin")).alias("basin_size"))


def _basin_kernel(pdf: pd.DataFrame, own: np.ndarray) -> np.ndarray:
    n, t = len(pdf), _targets(pdf)
    fd = pdf["flow_dir"].to_numpy(np.int64)
    # roots: halo rows, pits, and cells whose target is not in the group
    # -- dropped, with everything that drains to them
    pit = own & ((fd < 0) | (fd > 7))
    gone = _halo(pdf, own, "gone", (fd >= 0) & (t < 0)).astype(bool)
    root = ~own | pit | gone
    nxt = np.where(root, np.arange(n), t)
    for _ in range(n.bit_length()):
        nxt = nxt[nxt]
    # 2^j >= n hops end at a root, or on a cycle, settled iff its length
    # divides 2^j; a label from a cycle across a block edge would need the
    # path's length modulo the cycle's, so it never settles
    cyc, done = _halo(pdf, own, "cyc", False), _halo(pdf, own, "done", True)
    pdf["done"] = done[nxt] & (nxt[nxt] == nxt) & ~(cyc[nxt] & ~own[nxt])
    pdf["basin"] = _halo(pdf, own, "basin", pdf["cell"])[nxt]
    pdf["gone"], pdf["cyc"] = gone[nxt], cyc[nxt] | ~root[nxt]
    return own


def _flow_target(step: int):
    dirs = {d: (dla, dlo) for d, dla, dlo, _ in D8}
    return F.col("cell") + sum(
        F.when(F.col("flow_dir") == d, F.lit(dla * step + dlo))
        .otherwise(F.lit(0)) for d, (dla, dlo) in dirs.items())


_BLOCK = 256     # side of the flow operators' blocks, in cells
_DELTA = np.array([dla * (1 << _LON_BITS) + dlo for _, dla, dlo, _ in D8])


def _blocks(df: DataFrame, **per_dem: Column) -> DataFrame:
    """``df`` (dem_id, cell, ...) plus ``blk``, its block's key, ``nb``,
    the other blocks its 8-neighbourhood reaches, and each ``per_dem``
    aggregate by name.  The DEM extent is a window over dem_id: round
    one's only exchange, which the groupBys after it reuse."""
    b, dem = _BLOCK, Window.partitionBy("dem_id")
    row = F.shiftright("cell", _LON_BITS)
    col = F.col("cell").bitwiseAND((1 << _LON_BITS) - 1)
    lo = {"r": F.min(row).over(dem), "c": F.min(col).over(dem)}
    x = df.select("*", (row - lo["r"]).alias("_r"),
                  (col - lo["c"]).alias("_c"),
                  (F.max(row).over(dem) - lo["r"]).alias("_hr"),
                  (F.max(col).over(dem) - lo["c"]).alias("_hc"),
                  *[agg.over(dem).alias(k) for k, agg in per_dem.items()])

    def near(v, d):  # offset d along axis v leaves the cell's block
        return ("true" if d == 0 else f"_{v} % {b} = 0 and _{v} >= {b}"
                if d < 0 else
                f"_{v} % {b} = {b - 1} and _{v} div {b} < _h{v} div {b}")

    def key(dr, dc):
        return f"(_r div {b} + {dr}) * (_hc div {b} + 1) + _c div {b} + {dc}"
    nb = ", ".join(f"if({near('r', dr)} and {near('c', dc)}, "
                   f"{key(dr, dc)}, null)" for dr in (-1, 0, 1)
                   for dc in (-1, 0, 1) if dr or dc)
    return x.select(*df.columns, *per_dem, F.expr(key(0, 0)).alias("blk"),
                    F.expr(f"filter(array({nb}), k -> k is not null)")
                    .alias("nb"))


def _block_fixpoint(state: DataFrame, kernel, max_iter: int, name: str,
                    changed: Column | None = None) -> DataFrame:
    """Block rounds over ``state`` (from :func:`_blocks`) until no row
    satisfies ``changed`` (default: not ``ok``, its value not final).
    Each row goes to its block and, as a halo row, to the blocks in
    ``nb``; ``kernel(pdf, own)`` solves one (dem_id, block) group in
    place and returns the mask of rows to keep.  Round one reuses the
    DEM-extent window's exchange: one task solves all blocks of a DEM.
    The solve's output columns carry no partitioning, so later rounds
    shuffle by (dem_id, block) and spread the blocks over tasks."""
    cols, schema = state.columns, state.schema

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.loc[kernel(pdf, pdf["_h"].to_numpy() == 0), cols]

    def step(cur: DataFrame) -> DataFrame:
        halo = F.posexplode(F.concat(F.array("blk"), "nb")).alias("_h", "_k")
        return (cur.select("*", halo).groupBy("dem_id", "_k")
                .applyInPandas(solve, schema))

    return fixpoint(state, step, ~F.col("ok") if changed is None else changed,
                    max_iter, name)


def _lookup(cell: np.ndarray, key: np.ndarray) -> np.ndarray:
    """Row of each key in ``cell`` (-1 where absent)."""
    order = np.argsort(cell, kind="stable")
    hit = order[np.searchsorted(cell, key, sorter=order)
                .clip(max=len(cell) - 1)]
    return np.where(cell[hit] == key, hit, -1)


def _targets(pdf: pd.DataFrame, own: np.ndarray | None = None) -> np.ndarray:
    """Row of each cell's D8 target in the group: -1 at pits, where the
    target is not in the group and, given ``own``, where it is a halo row;
    a flow_dir past 7 names the cell itself, as in :func:`_flow_target`."""
    cell = pdf["cell"].to_numpy(np.int64)
    fd = pdf["flow_dir"].to_numpy(np.int64)
    t = _lookup(cell, cell + np.where(fd < 8, _DELTA[fd.clip(0, 7)], 0))
    return np.where((fd >= 0) & (True if own is None else own[t]), t, -1)


def _halo(pdf: pd.DataFrame, own: np.ndarray, col: str, start) -> np.ndarray:
    """``start`` at the block's own rows, the state's ``col`` at halo rows."""
    return np.where(own, start, pdf[col].to_numpy())


def _sweep(pdf: pd.DataFrame, own: np.ndarray, visit,
           ok: np.ndarray | None = None) -> np.ndarray:
    """Kahn's sweep of the flow edges into the block's own rows, upstream
    first: ``visit(src, dst)`` gets the edges out of each frontier, and
    ``ok``, if given, is and-ed along them.  Returns the rows reached:
    none on a cycle, or downstream of one."""
    tgt = _targets(pdf, own)
    done = np.zeros(len(tgt), bool)
    indeg = np.bincount(tgt[tgt >= 0], minlength=len(tgt))
    f = np.flatnonzero(indeg == 0)
    while f.size:
        done[f] = True
        src = f[tgt[f] >= 0]
        dst = tgt[src]
        visit(src, dst)
        if ok is not None:
            np.logical_and.at(ok, dst, ok[src])
        np.subtract.at(indeg, dst, 1)
        f = np.unique(dst[indeg[dst] == 0])
    return done


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


def _rays(elev: DataFrame, max_dist: int) -> DataFrame:
    """The 8 D8 rays out to ``max_dist``: one row per cell and in-grid
    ray step, s = (dir, k, delta, dist), with the step's ``target`` cell
    and its elevation ``nelev``."""
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
    return nbr.join(other, ["dem_id", "target"])


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
    j = _rays(elev, max_dist)
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

    Stream cells have accumulation >= threshold; stream edges are the D8
    edges between them.  Order is the least fixpoint, from all 1, of
    ord = 1 without stream inflow, m + 1 where >= 2 inflows carry the
    max inflow order m, else m: per block a topological sweep over the
    stream edges, then plain relaxation on or below a flow cycle; rounds
    repeat while block-edge orders move."""
    # acc and flow_dir as a union merged per cell after _blocks' exchange;
    # a join would add two exchanges of its own
    both = (acc.where(F.col("acc") >= threshold)
            .select("dem_id", "cell", "acc",
                    F.lit(None).cast("int").alias("flow_dir"))
            .unionByName(flow.select("dem_id", "cell", F.lit(None)
                                     .cast("long").alias("acc"), "flow_dir")))
    state = (_blocks(both).groupBy("dem_id", "cell")
             .agg(F.max("acc").alias("acc"),
                  F.coalesce(F.max("flow_dir"), F.lit(-1)).alias("flow_dir"),
                  F.first("blk").alias("blk"), F.first("nb").alias("nb"))
             .where(F.col("acc").isNotNull())
             .select("*", F.lit(1).alias("ord"), F.lit(1).alias("old")))
    return (_block_fixpoint(state, _strahler_kernel, max_iter, "strahler",
                            F.expr("size(nb) > 0 and ord != old"))
            .select("dem_id", "cell", "acc", F.col("ord").alias("strahler")))


def _strahler_kernel(pdf: pd.DataFrame, own: np.ndarray) -> np.ndarray:
    pdf["old"] = pdf["ord"]
    order = _halo(pdf, own, "ord", 1)
    best = np.zeros(len(pdf), np.int64)   # max inflow order so far
    mult = np.zeros(len(pdf), np.int64)   # inflows carrying it

    def settle(rows):  # rows whose inflows are all in
        order[rows] = np.where(best[rows] == 0, 1,
                               best[rows] + (mult[rows] >= 2))

    def visit(src, dst):
        settle(src[own[src]])
        o, before = order[src], best[dst]
        np.maximum.at(best, dst, o)
        mult[dst[best[dst] > before]] = 0
        np.add.at(mult, dst, o == best[dst])
    left = own & ~_sweep(pdf, own, visit)
    settle(own)
    # on or below a cycle: synchronous rounds from 1, as over the frame
    tgt = _targets(pdf, own)
    src = np.flatnonzero((tgt >= 0) & left[tgt])
    dst, order[left], prev = tgt[src], 1, None
    while src.size and not np.array_equal(order, prev):
        prev, best[:], mult[:] = order.copy(), 0, 0
        np.maximum.at(best, dst, order[src])
        np.add.at(mult, dst, order[src] == best[dst])
        settle(left)
    pdf["ord"] = order
    return own


def flow_length(flow: DataFrame, max_iter: int = 512) -> DataFrame:
    """(dem_id, cell, flen): longest upstream flow-path length per cell
    (the r.watershed "length of flow path" output) -- the geometric
    distance (unit grid spacing, sqrt(2) diagonals) along the longest
    drainage path that terminates at each cell; headwater cells get 0.

    The :func:`flow_accumulation` sweep with max-plus in place of the
    sum, flen(c) = max(flen(w) + d(w)) over the cells w draining into c:
    each path is summed hop by hop in the recursive-CTE oracle's
    left-fold order, and MAX over f64s is order-free, so engine and
    oracle agree exactly before the 6-dp round."""
    state = _blocks(flow.select("dem_id", "cell", "flow_dir")).select(
        "*", F.lit(0.0).alias("flen"), F.lit(False).alias("ok"))
    cur = _block_fixpoint(state, _flen_kernel, max_iter, "flow_length")
    return cur.select("dem_id", "cell", F.round("flen", 6).alias("flen"))


def _flen_kernel(pdf: pd.DataFrame, own: np.ndarray) -> np.ndarray:
    flen = _halo(pdf, own, "flen", 0.0)
    step = np.array([d[3] for d in D8])[pdf["flow_dir"].clip(0, 7)]
    ok = _halo(pdf, own, "ok", True).astype(bool)


    def visit(src, dst):
        np.maximum.at(flen, dst, flen[src] + step[src])
    pdf["ok"] = ok & _sweep(pdf, own, visit, ok)
    pdf["flen"] = flen
    return own


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
    tan = (F.col("nelev") - F.col("elev")) / F.col("s.dist")
    t = {k: F.max(F.when(F.col("s.k") == k, tan))
         for k in range(1, max_dist + 1)}
    ray = (_rays(elev, max_dist)
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
    """(dem_id, cell, elev, filled, fill_depth): depression filling to
    the Planchon-Darboux fixpoint (the GRASS r.fill.dir / RichDEM
    epsilon=0 rule) -- the preprocessing step every production flow
    model runs BEFORE :func:`flow_direction`, so spurious pits don't
    truncate drainage.

    Semantics: boundary cells (fewer than 8 in-grid neighbors) stay at
    their elevation, cells without one are dropped; interior levels
    start at the per-DEM maximum and fall to the fixpoint of W(c) =
    max(elev(c), min over 8 neighbors of W(n)).  Values are min/max
    selections of input doubles, so engine and oracle agree bit-for-bit.
    Each block is one priority-flood (Barnes, Lehman & Mulla 2014)
    seeded by its boundary cells at elev and halo cells at their current
    W; a round counts the block-edge cells whose W moved."""
    state = _blocks(elev.select("dem_id", "cell", "elev"),
                    wmax=F.max("elev")).select(
        "*", F.col("wmax").alias("w"), F.col("wmax").alias("old"))
    w = _block_fixpoint(state, _fill_kernel, max_iter, "fill_sinks",
                        (F.size("nb") > 0) & (F.col("w") != F.col("old")))
    # 6-dp presentation round: elev means carry batch-reduction low-bit
    # noise (~1e-13) relative to the per-row numpy model, and filled is
    # a selection among them; the flood itself runs on raw f64s.
    return w.select("dem_id", "cell", F.round("elev", 6).alias("elev"),
                    F.round("w", 6).alias("filled"),
                    F.round(F.col("w") - F.col("elev"), 6)
                    .alias("fill_depth"))


def _fill_kernel(pdf: pd.DataFrame, own: np.ndarray) -> np.ndarray:
    cell = pdf["cell"].to_numpy(np.int64)
    nbr = np.stack([_lookup(cell, cell + d) for d in _DELTA], axis=1)
    deg = (nbr >= 0).sum(axis=1)
    free = own & (deg == 8)
    pdf["old"] = pdf["w"]
    w = np.where(free, pdf["wmax"], _halo(pdf, own, "w", pdf["elev"]))
    w, seen, elev = w.tolist(), (~free).tolist(), pdf["elev"].tolist()
    heap = [(w[i], i) for i in np.flatnonzero(~free).tolist()]
    heapq.heapify(heap)
    nbr = nbr.tolist()
    while heap:
        wc, c = heapq.heappop(heap)
        for n in nbr[c]:
            if n >= 0 and not seen[n]:
                seen[n] = True
                w[n] = max(elev[n], wc)
                heapq.heappush(heap, (w[n], n))
    pdf["w"] = w
    return own & (deg > 0)


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
    j = _rays(elev, max_dist)
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
    tan = (F.col("nelev") - F.col("elev")) / F.col("s.dist")
    per_dir = (_rays(elev, max_dist)
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
    cell has stream-inflow != 1), then :func:`watershed` labels every
    cell with its segment end -- no new machinery; segment length is one
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
