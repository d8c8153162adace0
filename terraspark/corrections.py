"""Distributed topographic correction: join -> scalar aggs -> kernel map.

Pipeline (all lazy DataFrame ops; SURVEY.md sections 2.2, 2.4, 2.5):

1. ``join_dem``     -- image tiles x derived DEM features, equi-join on the
   H3-like ``cell`` key.  The reference's positional multi-raster alignment
   (/root/reference/util/raster_calc.py:87-109) becomes this explicit join.
   DEM features are broadcast when small (dimension-table pattern); at
   larger scale AQE skew-join plus an optional salt handle the hot cells
   that FIXTURES.md deliberately creates (8 images on one anchor cell).
2. ``band_stats``   -- per-(image, band) sufficient statistics as ONE
   map-side pass over tiles + a tiny groupBy.sum: the distributed, exact
   closed form of the plugin's whole-scene driver regressions
   (LuminanceRegressionTopoCorrectionAlgorithm.py:30-35,
   MinnaertTopoCorrectionAlgorithm.py:110-115, gdal_utils.py:70-88).
3. ``apply_corrections`` -- broadcast the tiny scalars table back and run
   the shared numpy kernels over Arrow batches (mapInPandas), emitting one
   corrected tile row per (tile, method).

The joined tile table should be persisted by callers running several
methods -- mirroring the reference's memoized luminance
(execution_context.py:78-83).
"""
from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import METHODS, TILE, CorrectionParams
from .kernels import (STAT_FIELDS, apply_correction, partial_stats_tiles,
                      scalars_from_stats)
from .tiling import tiles_as_numpy

STATS_SCHEMA = ("image_id string, band int, tile_x int, tile_y int, "
                + ", ".join(f"{f} double" for f in STAT_FIELDS))

SCALAR_FIELDS = ("reg_intercept", "reg_slope", "c", "k", "pbc_c",
                 "band_mean", "lum_mean")

CORRECTED_SCHEMA = (
    "image_id string, caption string, band int, tile_x int, tile_y int, "
    "cell long, method string, px binary"
)


def join_dem(tiles: DataFrame, dem_features: DataFrame,
             broadcast_dem: bool = True, with_aspect: bool = False) -> DataFrame:
    """Equi-join tile rows to DEM features on the cell key.

    ``broadcast_dem=True`` is the 100TB-design default when the DEM side is
    the small one (a DEM covers the world once; imagery covers it many
    times over) -- a broadcast hash join has no shuffle and is immune to the
    hot-cell skew on the probe side.  With ``False`` Spark plans a shuffle
    join and AQE's skew-join splitting handles stragglers.
    """
    cols = ["cell", F.col("slope").alias("slope_px"),
            F.col("lum").alias("lum_px")]
    if with_aspect:
        cols.append(F.col("aspect").alias("aspect_px"))
    feats = dem_features.select(*cols)
    if broadcast_dem:
        feats = F.broadcast(feats)
    return tiles.join(feats, "cell", "inner")


def _stats_batches(batches: Iterator[pd.DataFrame], tile: int,
                   params: CorrectionParams) -> Iterator[pd.DataFrame]:
    cols = ["image_id", "band", "tile_x", "tile_y", *STAT_FIELDS]
    for pdf in batches:
        if not len(pdf):
            yield pd.DataFrame({c: [] for c in cols})
            continue
        dn = tiles_as_numpy(pdf, "px", tile)
        lum = tiles_as_numpy(pdf, "lum_px", tile)
        slope = tiles_as_numpy(pdf, "slope_px", tile)
        # one vectorized axis-1 reduction over the whole batch: per-TILE
        # partials, each depending only on its own tile's pixels (see
        # kernels.partial_stats_tiles -- the partition-invariance contract)
        st = partial_stats_tiles(dn, lum, slope, params)
        yield pd.DataFrame({"image_id": pdf["image_id"],
                            "band": pdf["band"],
                            "tile_x": pdf["tile_x"],
                            "tile_y": pdf["tile_y"], **st})


def _stats_agg(joined: DataFrame, params: CorrectionParams,
               tile: int) -> DataFrame:
    """Per-(image, band) sufficient statistics, BIT-DETERMINISTIC at any
    parallelism: per-tile partials are collected, sorted by the canonical
    (tile_y, tile_x) key and folded left-to-right JVM-side.  A plain
    F.sum would combine partials in partition-layout order -- harmless
    for well-conditioned fits, but veca/teillet denominators cross zero
    inside ill-conditioned scenes, where one-ulp scalar shifts flip
    where-masks and visibly change downstream cell stats (observed as a
    4-core-vs-8-core divergence before this fix).  A group holds at most
    (image_h/tile)*(image_w/tile) tiles (16 here), so the collected
    array is bounded and driver-safe at any corpus scale."""
    partials = joined.select("image_id", "band", "tile_x", "tile_y",
                             "px", "lum_px", "slope_px") \
        .mapInPandas(lambda it: _stats_batches(it, tile, params),
                     schema=STATS_SCHEMA)
    arr = F.sort_array(F.collect_list(F.struct(
        "tile_y", "tile_x", *STAT_FIELDS)))
    def _fold(field):
        # closure (not a default arg): pyspark counts lambda parameters
        return F.aggregate("_t", F.lit(0.0),
                           lambda a, x: a + x[field]).alias(field)

    folded = [_fold(f) for f in STAT_FIELDS]
    return (partials.groupBy("image_id", "band").agg(arr.alias("_t"))
            .select("image_id", "band", *folded))


def band_stats(joined: DataFrame, params: CorrectionParams,
               tile: int = TILE) -> pd.DataFrame:
    """Per-(image, band) method scalars, COLLECTED to a tiny pandas frame.

    Fine when images-in-flight x bands fits on the driver (one job's
    worth); use :func:`band_stats_df` for the never-collect path."""
    pdf = _stats_agg(joined, params, tile).toPandas()
    out = []
    for r in pdf.itertuples(index=False):
        sc = scalars_from_stats({f: getattr(r, f) for f in STAT_FIELDS})
        sc["image_id"] = r.image_id
        sc["band"] = int(r.band)
        out.append(sc)
    return pd.DataFrame(out, columns=["image_id", "band", *SCALAR_FIELDS])


def band_stats_df(joined: DataFrame, params: CorrectionParams,
                  tile: int = TILE) -> DataFrame:
    """Fully-distributed scalars: the OLS closed forms evaluated as Spark
    column expressions on the aggregated sufficient statistics -- nothing
    ever reaches the driver, so the scalar table scales to any number of
    images (the 10^12-image default path)."""
    agg = _stats_agg(joined, params, tile)
    nan = F.lit(float("nan"))

    def safe_div(num, den):
        # degenerate groups (empty regression sample, zero-variance x,
        # zero denominator) yield NaN -- bit-parity with the collected
        # numpy path (kernels.ols_from_sums / scalars_from_stats), and
        # CASE WHEN keeps the plan legal under ANSI mode (a bare `/`
        # throws DIVIDE_BY_ZERO the first time a real corpus contains a
        # fully-masked band)
        return F.when(den != 0, num / den).otherwise(nan)

    def ols(prefix):
        n, sx, sy = F.col(f"n_{prefix}"), F.col(f"sx_{prefix}"), F.col(f"sy_{prefix}")
        sxx, sxy = F.col(f"sxx_{prefix}"), F.col(f"sxy_{prefix}")
        denom = n * sxx - sx * sx
        slope = F.when((n != 0) & (denom != 0),
                       (n * sxy - sx * sy) / denom).otherwise(nan)
        intercept = F.when((n != 0) & (denom != 0),
                           (sy - slope * sx) / n).otherwise(nan)
        return intercept, slope

    ri, rs = ols("reg")
    mi, ms = ols("min")
    return agg.select(
        "image_id", "band",
        ri.alias("reg_intercept"), rs.alias("reg_slope"),
        safe_div(ri, rs).alias("c"),
        ms.alias("k"),
        safe_div(ms, mi).alias("pbc_c"),
        safe_div(F.col("s_dn"), F.col("n_all")).alias("band_mean"),
        safe_div(F.col("s_lum"), F.col("n_lum")).alias("lum_mean"),
    )


def _correct_batches(batches: Iterator[pd.DataFrame], methods: Sequence[str],
                     tile: int, params: CorrectionParams) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if not len(pdf):
            continue
        dn = tiles_as_numpy(pdf, "px", tile)
        lum = tiles_as_numpy(pdf, "lum_px", tile)
        slope = tiles_as_numpy(pdf, "slope_px", tile)
        groups = pdf.groupby(["image_id", "band"], sort=False).indices
        base = {c: pdf[c] for c in ("image_id", "caption", "band",
                                    "tile_x", "tile_y", "cell")}
        # slice + mask ONCE per group, outside the method loop: fancy
        # indexing copies the fat float32 arrays, so doing it per method
        # would move every byte 11x (the kernel stage is memory-bandwidth
        # -bound well before it is compute-bound -- see
        # scripts/bandwidth_probe.py).  When the incoming batch is SORTED
        # by (image_id, band) -- apply_corrections sorts within partitions
        # for exactly this reason -- each group is a contiguous row range
        # and the slice is a zero-copy VIEW, removing even the one
        # remaining per-group copy of the three fat arrays.
        prepped = []
        for (iid, band), idx in groups.items():
            sc = {f: float(pdf[f].iloc[idx[0]]) for f in SCALAR_FIELDS}
            if idx[-1] - idx[0] + 1 == len(idx):     # contiguous -> views
                rows = slice(idx[0], idx[-1] + 1)
            else:                                    # unsorted fallback
                rows = idx
            dng = dn[rows]
            prepped.append((iid, int(band), idx, dng, lum[rows], slope[rows],
                            sc, np.isnan(dng)))
        for method in methods:
            px_out = np.empty(len(pdf), dtype=object)
            for iid, band, idx, dng, lumg, slopeg, sc, ndvg in prepped:
                # scalars are constant per (image, band): one vectorized
                # kernel call over all the group's tiles at once
                corrected = apply_correction(
                    method, iid, band, dng, lumg, slopeg, sc, params,
                    ndv=ndvg)
                for j, k in enumerate(idx):
                    px_out[k] = corrected[j].tobytes()
            # one frame per method (no concat copy -- mapInPandas streams
            # multiple output batches per input batch)
            yield pd.DataFrame({**base, "method": method, "px": px_out})


def apply_corrections(joined: DataFrame, scalars,
                      methods: Sequence[str] = METHODS,
                      params: CorrectionParams = CorrectionParams(),
                      tile: int = TILE,
                      broadcast_scalars: bool = True) -> DataFrame:
    """Join the scalars back and run the correction kernels.

    The scalar table holds one row per (image, band) IN FLIGHT in this
    job -- broadcastable by construction, and the broadcast hint matters:
    an aggregation output has no size statistics, so without it the
    planner sort-merge-joins and shuffles the fat tile table (px + lum +
    slope binaries) on (image_id, band) -- measured 4x slower at 512
    images.  Set ``broadcast_scalars=False`` only when one job's scalar
    table itself exceeds executor memory; pre-bucket both sides then."""
    spark = joined.sparkSession
    if isinstance(scalars, pd.DataFrame):
        sc_df = F.broadcast(spark.createDataFrame(
            scalars, schema="image_id string, band int, " + ", ".join(
                f"{f} double" for f in SCALAR_FIELDS)))
    else:
        sc_df = F.broadcast(scalars) if broadcast_scalars else scalars
    # sortWithinPartitions groups each (image, band)'s tiles contiguously
    # inside every Arrow batch, so the Python side slices zero-copy VIEWS
    # instead of fancy-index copies of the three fat pixel arrays (see
    # _correct_batches) -- a narrow in-partition key sort, no exchange.
    # Numerically inert: kernels are per-tile and scalars are precomputed,
    # so row order cannot change any output value (unlike the stats stage,
    # which is deliberately left unsorted).
    enriched = (joined.join(sc_df, ["image_id", "band"], "inner")
                .sortWithinPartitions("image_id", "band"))
    return enriched.mapInPandas(
        lambda it: _correct_batches(it, list(methods), tile, params),
        schema=CORRECTED_SCHEMA)
