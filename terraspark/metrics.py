"""Evaluation metrics A4-A14 as distributed Spark aggregations.

The reference computes 7 per-band metrics on whole-scene numpy arrays
(/root/reference/processing_alg/topocorrection_eval/metrics.py:81-206):
std, cv, IQR, median, threshold-outliers, IQR-outliers, r^2 vs luminance.
Here each becomes a groupBy aggregation over pixel rows exploded from tile
blobs (one mapInPandas, then JVM-side aggs):

  std  -> stddev_pop            (np.std is population std)
  cv   -> stddev_pop / mean
  IQR/median -> exact ``percentile`` (linear interpolation == np.percentile)
  r^2  -> corr(value, lum)^2    (scipy.linregress rvalue == Pearson r)
  outliers(threshold) -> conditional count vs the ORIGINAL image's min/max
          (metrics.py:151-165; orig stats broadcast back, J3 pattern)
  outliers(IQR fence) -> two-phase: percentile agg, broadcast back,
          conditional count (metrics.py:168-181)

Pixels with non-finite values are excluded on both engine and oracle sides
(the reference feeds raw GDAL bytes which never contain NaN; our raw_f32
NoData is NaN -- documented divergence, consistent everywhere).

Scale: the exploded frame is (tiles x 4096) rows but only 5-6 narrow
columns.  The fan-out runs on every core: the tile rows are hash-spread on
their identity to ``defaultParallelism`` partitions first (an AOI join
keeps its input's layout, which can put most tiles of an evaluation in one
scan split), and each Python worker yields frames of at most
``FRAME_TILES`` tiles, so its memory is bounded whatever the Arrow batch
size.  ``evaluate_metrics`` then reads the pixel rows twice: one
aggregation, and one counting pass against a single broadcast table of
thresholds; partial aggregation (map-side combine) reduces both before any
shuffle.  The exact percentile is the one sort-heavy agg -- acceptable per
group; ``approx=True`` swaps in ``approx_percentile`` at 100TB.

Correlation/rose/histogram evaluation (A12/A13) live in SQL-expressible
form in __spark_entry__.py as well; ``hist2d`` and ``rose_means`` here are
the engine's named operators.
"""
from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import TILE

PIXELS_SCHEMA = ("group_id int, method string, band int, value double, "
                 "lum double")
TERRAIN_PIXELS_SCHEMA = ("group_id int, method string, band int, "
                         "value double, slope_deg double, aspect_deg double")

ORIG_KEY = "__orig__"

# identity of an evaluation tile row; the fan-out is spread on it
_TILE_KEY = ("image_id", "band", "tile_x", "tile_y", "method")

# tiles per yielded pixel frame: 64 x 4096 = 262,144 rows of ~5 doubles
FRAME_TILES = 64


def pixel_frames(batches: Iterator[pd.DataFrame], tile: int,
                 method_col: str,
                 blobs: tuple[tuple[str, str, Callable | None], ...]
                 ) -> Iterator[pd.DataFrame]:
    """Tile batches -> pixel frames of at most ``FRAME_TILES`` tiles each.

    ``blobs`` lists ``(output column, float32 blob column, transform)``,
    ``value`` first: its non-finite pixels drop the pixel from every
    output column.  Each blob is widened to float64 before its transform
    (None keeps it).  Rows come out tile by tile, pixels in blob order."""
    n = tile * tile
    for pdf in batches:
        for lo in range(0, len(pdf), FRAME_TILES):
            part = pdf.iloc[lo:lo + FRAME_TILES]
            arrs = [np.frombuffer(b"".join(part[col].tolist()),
                                  dtype="<f4").reshape(len(part), n)
                    for _, col, _ in blobs]
            finite = np.isfinite(arrs[0])
            rows = np.repeat(np.arange(len(part)), finite.sum(axis=1))
            frame = {
                "group_id": part["group_id"].to_numpy()[rows],
                "method": part[method_col].to_numpy()[rows],
                "band": part["band"].to_numpy()[rows],
            }
            for (out, _, fn), arr in zip(blobs, arrs):
                v = arr[finite].astype(np.float64)
                frame[out] = v if fn is None else fn(v)
            yield pd.DataFrame(frame)


def _explode(df: DataFrame, tile: int, method_col: str, blobs,
             schema: str) -> DataFrame:
    key = [method_col if c == "method" else c for c in _TILE_KEY]
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism,
                            *key)
    return spread.mapInPandas(
        lambda batches: pixel_frames(batches, tile, method_col, blobs),
        schema=schema)


def explode_pixels(df: DataFrame, tile: int = TILE,
                   value_col: str = "px", lum_col: str = "lum_px",
                   method_col: str = "method") -> DataFrame:
    """Tile rows -> pixel rows (group_id, method, band, value, lum)."""
    return _explode(df, tile, method_col,
                    (("value", value_col, None), ("lum", lum_col, None)),
                    PIXELS_SCHEMA)


def explode_pixels_terrain(df: DataFrame, tile: int = TILE) -> DataFrame:
    """Tile rows (px + slope_px + aspect_px) -> pixel rows with terrain in
    DEGREES (the rose diagram evaluates degree bins,
    rose_diagram_eval.py:291-297 calculate_slope(in_radians=False))."""
    return _explode(df, tile, "method",
                    (("value", "px", None),
                     ("slope_deg", "slope_px", np.degrees),
                     ("aspect_deg", "aspect_px", np.degrees)),
                    TERRAIN_PIXELS_SCHEMA)


def evaluate_metrics(pixels: DataFrame, approx: bool = True,
                     accuracy: int = 10_000) -> DataFrame:
    """Long metric table (group_id, method, band, metric_id, value).

    ``pixels`` must contain the original image's pixels under
    method == '__orig__' (they provide the static outlier thresholds); a
    (group, band) without them yields no rows.

    Two passes over the pixel rows.  The first aggregates the five
    distribution metrics, the IQR fences and min/max per (group, method,
    band); a window over (group, band) of that small table gives every
    row its original image's min/max.  That one table is broadcast into
    the second pass, which counts both kinds of outlier and carries the
    first pass's metrics through with ``first()``.

    ``approx=True`` (the scale default) computes the quartiles with
    ``approx_percentile`` (Greenwald-Khanna, rank error <= 1/accuracy --
    mergeable sketches, no full per-group sort); the 100 TB-safe path.
    ``approx=False`` uses exact ``percentile`` (linear interpolation ==
    np.percentile) for oracle parity -- sort-heavy per group, test mode.
    Measured deviation between the two on the fixture corpus is < 0.5%
    relative per metric (tests/test_skew_and_plans.py; the driver's
    img_metrics_approx row re-checks it against the committed oracle)."""
    keys = ["group_id", "method", "band"]
    q_agg = (F.expr(f"approx_percentile(value, array(0.25, 0.5, 0.75), "
                    f"{accuracy})") if approx
             else F.expr("percentile(value, array(0.25, 0.5, 0.75))"))
    base = pixels.groupBy(*keys).agg(
        F.stddev_pop("value").alias("std_reduction"),
        (F.stddev_pop("value") / F.mean("value")).alias("cv_reduction"),
        q_agg.alias("q"),
        (F.corr("value", "lum") ** 2).alias("determination_coefficient"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )

    # static thresholds come from the ORIGINAL image per (group, band)
    # (EvalContext.orig_minmax, metrics.py:49-50,160-165)
    orig = F.col("method") == ORIG_KEY
    w = Window.partitionBy("group_id", "band")
    q = F.col("q")
    thresholds = base.select(
        *keys, "std_reduction", "cv_reduction", "determination_coefficient",
        (q[2] - q[0]).alias("iqr_reduction"),
        q[1].alias("relative_median_difference"),
        (q[0] - (q[2] - q[0])).alias("fence_lo"),
        (q[2] + (q[2] - q[0])).alias("fence_hi"),
        F.min(F.when(orig, F.col("vmin"))).over(w).alias("orig_min"),
        F.max(F.when(orig, F.col("vmax"))).over(w).alias("orig_max"),
        F.max(orig).over(w).alias("has_orig"),
    ).where("has_orig")

    value = F.col("value")
    wide = (pixels.join(F.broadcast(thresholds), keys)
            .groupBy(*keys)
            .agg(
                *[F.first(m).alias(m) for m in (
                    "std_reduction", "cv_reduction", "iqr_reduction",
                    "relative_median_difference",
                    "determination_coefficient")],
                F.sum(F.when((value < F.col("orig_min"))
                             | (value > F.col("orig_max")), 1)
                      .otherwise(0)).cast("double").alias("outliers_threshold"),
                F.sum(F.when((value < F.col("fence_lo"))
                             | (value > F.col("fence_hi")), 1)
                      .otherwise(0)).cast("double").alias("outliers_iqr"),
            ))
    metric_cols = ["std_reduction", "cv_reduction", "iqr_reduction",
                   "relative_median_difference", "outliers_threshold",
                   "outliers_iqr", "determination_coefficient"]
    stack = ", ".join(f"'{m}', {m}" for m in metric_cols)
    return wide.selectExpr(
        *keys,
        f"stack({len(metric_cols)}, {stack}) as (metric_id, value)")


def hist2d(pixels: DataFrame, bins: int = 100) -> DataFrame:
    """A12: 2-D histogram of (luminance, DN), np.histogram2d semantics
    (correlation_eval.py:93-98): lum range fixed [0,1], DN range
    [min,max] per (group, method, band); right-closed last bin."""
    keys = ["group_id", "method", "band"]
    rng = pixels.groupBy(*keys).agg(F.min("value").alias("vmin"),
                                    F.max("value").alias("vmax"))
    p = pixels.join(F.broadcast(rng), keys)
    bx = F.least(F.floor(F.col("lum") * bins), F.lit(bins - 1)).cast("int")
    by = F.least(
        F.floor((F.col("value") - F.col("vmin"))
                / ((F.col("vmax") - F.col("vmin")) / bins)),
        F.lit(bins - 1)).cast("int")
    return (p.where((F.col("lum") >= 0) & (F.col("lum") <= 1)
                    & (F.col("value") >= F.col("vmin"))
                    & (F.col("value") <= F.col("vmax")))
            .groupBy(*keys, bx.alias("bin_x"), by.alias("bin_y"))
            .count())


def rose_means(pixels_with_terrain: DataFrame, slope_step_deg: float = 30.0,
               aspect_step_deg: float = 10.0, slope_max: float = 90.0,
               aspect_max: float = 360.0) -> DataFrame:
    """A13: group-by (slope bin, aspect bin) mean DN
    (rose_diagram_eval.py:104-106,219-233).  Expects columns
    slope_deg/aspect_deg/value."""
    f = pixels_with_terrain.where(
        (F.col("slope_deg") <= slope_max) & (F.col("aspect_deg") <= aspect_max))
    return (f.groupBy(
        F.floor(F.col("slope_deg") / slope_step_deg).cast("int").alias("slope_bin"),
        F.floor(F.col("aspect_deg") / aspect_step_deg).cast("int").alias("aspect_bin"),
        "group_id", "method", "band")
        .agg(F.mean("value").alias("mean_value"),
             F.count("*").alias("n")))


# ------------------------------------------------------------- PSNR audit
_PSNR_MM_SCHEMA = "image_id string, band int, tmin float, tmax float"
_PSNR_SSE_SCHEMA = ("image_id string, band int, tile_x int, tile_y int, "
                    "sse double, n long")


def lossy_psnr_audit(tiles: DataFrame, tile: int = TILE,
                     threshold: float = 40.0) -> DataFrame:
    """Distributed lossy-roundtrip PSNR gate per (image_id, band).

    The north-rule invariant is decoded-pixel PSNR >= 40 dB for lossy
    formats; this audits the lossy WRITE path without materializing any
    bytes: it reproduces the stub codec's per-plane affine 8-bit
    quantization (codecs._jpeg_encode/_jpeg_decode) as dataflow and
    measures the second-generation error against the first decode.

    Two passes, mirroring the codec's own two passes over the plane:

      1. plane (lo, hi): per-tile float32 min/max partials (one Arrow
         batch scan) -> exact Spark MIN/MAX -- min/max are
         order-independent, so the distributed result is bit-equal to
         numpy's plane-wide nanmin/nanmax;
      2. broadcast (lo, hi) back to tiles; per-tile numpy pass applies
         the IDENTICAL f32 quantize/dequantize arithmetic as the codec
         (scale computed in f64 then narrowed to f32, exactly the
         struct-pack '<f' narrowing) and emits SSE/count partials.

    Partials are reduced in deterministic (tile_y, tile_x) order
    (sort_array + aggregate, JVM-side) so the dB value is stable at any
    parallelism.  psnr = 10*log10(peak^2/mse) with peak = hi - lo
    (codecs.psnr semantics), rounded HALF_UP to 3 decimals to match the
    committed numpy-model expectations.

    Scale: pass 1 ships 2 floats per tile, pass 2 one (sse, n) pair per
    tile; the pixel data is read twice but never shuffled.
    """
    from typing import Iterator

    lossy = tiles.where(F.col("fmt") == F.lit("jpeg"))

    def mm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            arr = np.frombuffer(b"".join(pdf["px"].tolist()),
                                dtype="<f4").reshape(len(pdf), -1)
            with np.errstate(all="ignore"):
                tmin = np.nanmin(arr, axis=1).astype(np.float32)
                tmax = np.nanmax(arr, axis=1).astype(np.float32)
            # an all-NaN (fully NDV-masked) tile partial is NaN, and
            # Spark's MAX orders NaN above every double -- drop those
            # rows so the plane (lo, hi) matches numpy's plane nanmax
            keep = np.isfinite(tmax)
            yield pd.DataFrame({
                "image_id": pdf["image_id"].to_numpy()[keep],
                "band": pdf["band"].to_numpy()[keep],
                "tmin": tmin[keep], "tmax": tmax[keep]})

    plane = (lossy.mapInPandas(mm, schema=_PSNR_MM_SCHEMA)
             .groupBy("image_id", "band")
             .agg(F.min("tmin").alias("lo"), F.max("tmax").alias("hi")))

    enriched = lossy.select("image_id", "band", "tile_x", "tile_y", "px") \
        .join(F.broadcast(plane), ["image_id", "band"])

    def sse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            arr = np.frombuffer(b"".join(pdf["px"].tolist()),
                                dtype="<f4").reshape(len(pdf), -1)
            lo = pdf["lo"].to_numpy(np.float64)
            hi = pdf["hi"].to_numpy(np.float64)
            # codec: scale = (hi - lo) / 255.0 in f64, then '<f' narrowing
            scale = np.where(hi > lo, (hi - lo) / 255.0, 1.0)
            lo32 = lo.astype(np.float32)[:, None]
            s32 = scale.astype(np.float32)[:, None]
            q = np.clip(np.rint((arr - lo32) / s32), 0, 255) \
                .astype(np.uint8)
            dec2 = q.astype(np.float32) * s32 + lo32
            err = dec2.astype(np.float64) - arr.astype(np.float64)
            finite = np.isfinite(err)
            yield pd.DataFrame({
                "image_id": pdf["image_id"], "band": pdf["band"],
                "tile_x": pdf["tile_x"], "tile_y": pdf["tile_y"],
                "sse": np.where(finite, err * err, 0.0).sum(axis=1),
                "n": finite.sum(axis=1).astype(np.int64)})

    parts = enriched.mapInPandas(sse, schema=_PSNR_SSE_SCHEMA)
    agg = parts.groupBy("image_id", "band").agg(
        F.aggregate(
            F.array_sort(F.collect_list(
                F.struct("tile_y", "tile_x", "sse"))),
            F.lit(0.0),
            lambda acc, s: acc + s["sse"]).alias("sse"),
        F.sum("n").alias("n"))
    joined = agg.join(plane, ["image_id", "band"])
    peak = F.when(F.col("hi") > F.col("lo"),
                  F.col("hi").cast("double") - F.col("lo").cast("double")) \
        .otherwise(F.lit(1.0))
    mse = F.col("sse") / F.col("n")
    psnr_db = F.when(mse == 0, F.lit(float("inf"))).otherwise(
        F.lit(10.0) * F.log10(peak * peak / mse))
    return joined.select(
        "image_id", "band", F.lit("jpeg").alias("fmt"),
        F.round(psnr_db, 3).alias("psnr"),
        (psnr_db >= F.lit(threshold)).alias("pass_gate"))


# ----------------------------------------------------- histogram equalize
_HIST_BIN_SCHEMA = "image_id string, band int, bin int, cnt long"


def hist_equalize_summary(tiles: DataFrame, bins: int = 256) -> DataFrame:
    """Distributed histogram equalization, summarized per (image, band).

    The classic raster contrast op (gdal-style): pixel -> its CDF value.
    Two passes over pixels, then pure JVM reduction:

      1. plane (lo, hi) via per-tile f32 min/max partials (exact);
      2. per-tile bin-count partials (nonzero bins only) -> groupBy sum;
      3. CDF by a per-plane window cumsum over bins; because the
         equalized value of every pixel in bin b is cdf[b], the plane's
         equalized mean/std are EXACT functions of the histogram alone:
         mean = sum_b cdf[b]*cnt[b] / n -- no third pixel pass.

    The bin reduction runs as a deterministic left fold in bin order
    (sort_array + aggregate), so the f64 result is bit-stable at any
    parallelism and bit-equal to the numpy model's sequential loop.
    Non-finite pixels are excluded (NDV contract, as everywhere).
    """
    from typing import Iterator

    def mm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            arr = np.frombuffer(b"".join(pdf["px"].tolist()),
                                dtype="<f4").reshape(len(pdf), -1)
            with np.errstate(all="ignore"):
                tmin = np.nanmin(arr, axis=1).astype(np.float32)
                tmax = np.nanmax(arr, axis=1).astype(np.float32)
            # drop all-NaN tile partials: Spark MAX sorts NaN above every
            # double, which would poison the plane hi (see lossy_psnr_audit)
            keep = np.isfinite(tmax)
            yield pd.DataFrame({
                "image_id": pdf["image_id"].to_numpy()[keep],
                "band": pdf["band"].to_numpy()[keep],
                "tmin": tmin[keep], "tmax": tmax[keep]})

    base = tiles.select("image_id", "band", "px")
    plane = (base.mapInPandas(mm, schema="image_id string, band int, "
                                         "tmin float, tmax float")
             .groupBy("image_id", "band")
             .agg(F.min("tmin").alias("lo"), F.max("tmax").alias("hi")))

    enriched = base.join(F.broadcast(plane), ["image_id", "band"])

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            arr = np.frombuffer(b"".join(pdf["px"].tolist()),
                                dtype="<f4").reshape(len(pdf), -1)
            lo = pdf["lo"].to_numpy(np.float64)[:, None]
            hi = pdf["hi"].to_numpy(np.float64)[:, None]
            a = arr.astype(np.float64)
            with np.errstate(all="ignore"):
                b = np.where(hi > lo,
                             (a - lo) / (hi - lo) * bins, 0.0)
            out = {"image_id": [], "band": [], "bin": [], "cnt": []}
            for i in range(len(pdf)):
                row = b[i][np.isfinite(a[i])]
                idx = np.clip(np.floor(row), 0, bins - 1).astype(np.int64)
                nz = np.bincount(idx, minlength=bins)
                (which,) = nz.nonzero()
                out["image_id"].extend([pdf["image_id"].iat[i]] * len(which))
                out["band"].extend([pdf["band"].iat[i]] * len(which))
                out["bin"].extend(which.tolist())
                out["cnt"].extend(nz[which].tolist())
            yield pd.DataFrame(out)

    counts = (enriched.mapInPandas(hist, schema=_HIST_BIN_SCHEMA)
              .groupBy("image_id", "band", "bin")
              .agg(F.sum("cnt").alias("cnt")))

    wp = Window.partitionBy("image_id", "band")
    cdf = counts.withColumn("n", F.sum("cnt").over(wp)) \
        .withColumn("cum", F.sum("cnt").over(
            wp.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))) \
        .withColumn("cdf", F.col("cum").cast("double")
                    / F.col("n").cast("double"))

    packed = cdf.groupBy("image_id", "band").agg(
        F.max("n").alias("n_px"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bin", "cdf", "cnt"))),
            F.struct(F.lit(0.0).alias("s1"), F.lit(0.0).alias("s2")),
            lambda acc, x: F.struct(
                (acc["s1"] + x["cdf"] * x["cnt"]).alias("s1"),
                (acc["s2"] + x["cdf"] * x["cdf"] * x["cnt"]).alias("s2")))
        .alias("s"))
    mean = F.col("s.s1") / F.col("n_px")
    var = F.col("s.s2") / F.col("n_px") - mean * mean
    return packed.select(
        "image_id", "band", F.col("n_px").cast("long").alias("n_px"),
        F.round(mean, 4).alias("mean_eq"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 4).alias("std_eq"))


def zonal_stats(cell_base, cover, round_to: int = 4):
    """Per-polygon zonal statistics (the raster-calculator "zonal stats"
    surface the reference approximates with per-group masks,
    /root/reference/processing_alg/topocorrection_eval/eval.py:134-179 --
    here the zones are true polygons resolved through the cell index).

    cell_base: (cell, band, n, s, ss, vmin, vmax) mergeable partials
    (sinks.cell_partials); cover: (aoi_id, cell) polygon cell cover
    (joins.polyfill -- i.e. geometry computed engine-side from WKT).

    One broadcast join (the cover is tiny next to the raster: thousands
    of cells vs billions of pixels) + one map-side-combinable groupBy of
    already-reduced partials -- the pixel data is never re-scanned, so
    zonal stats over any number of polygon layers reuse the same base
    partials.  Cells with no raster coverage simply don't join (the
    reference's NaN-group filter, eval.py:137); n_cells counts covered
    cells with data.
    """
    j = cell_base.join(F.broadcast(cover), "cell")
    mean = F.col("s") / F.col("n")
    var = F.col("ss") / F.col("n") - mean * mean
    return (j.groupBy("aoi_id", "band")
            .agg(F.count("*").cast("long").alias("n_cells"),
                 F.sum("n").cast("long").alias("n_px"),
                 F.sum("s").alias("s"), F.sum("ss").alias("ss"),
                 F.min("vmin").alias("vmin"), F.max("vmax").alias("vmax"))
            .select("aoi_id", "band", "n_cells", "n_px",
                    F.round(F.col("s") / F.col("n_px"), round_to)
                    .alias("mean"),
                    F.round(F.sqrt(F.greatest(
                        F.col("ss") / F.col("n_px")
                        - (F.col("s") / F.col("n_px")) ** 2,
                        F.lit(0.0))), round_to).alias("std"),
                    F.round("vmin", round_to).alias("vmin"),
                    F.round("vmax", round_to).alias("vmax")))
