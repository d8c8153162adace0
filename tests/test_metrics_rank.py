"""Metrics A4-A14 + ranking vs the numpy/pandas oracle."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from terraspark import corrections, joins, metrics as tmetrics, rank
from terraspark.config import METHODS
from terraspark.fixtures import (AOI_SCHEMA, DEM_SCHEMA, IMAGES_SCHEMA,
                                 SCENES_SCHEMA, to_spark)
from terraspark.pipeline import TopoEngine

EVAL_METHODS = ("cosine_t", "scs", "teillet")


@pytest.fixture(scope="module")
def eval_pixels(spark, fixture_tables):
    """Pixel rows of the original and three corrected images per AOI
    group, pinned so every test below reads the same partitions."""
    images, scenes, dem, aoi, grids, oracle = fixture_tables
    eng = TopoEngine(spark)
    images_df = to_spark(spark, images, IMAGES_SCHEMA)
    scenes_df = to_spark(spark, scenes, SCENES_SCHEMA)
    dem_df = to_spark(spark, dem, DEM_SCHEMA)
    aoi_df = to_spark(spark, aoi, AOI_SCHEMA)

    joined = eng.joined(images_df, scenes_df, dem_df)
    corrected = eng.correct(images_df, scenes_df, dem_df, EVAL_METHODS)

    # original image rows under the '__orig__' method key
    orig = joined.select("image_id", "band", "tile_x", "tile_y", "cell",
                         F.lit(tmetrics.ORIG_KEY).alias("method"),
                         "px", "lum_px")
    corr = corrections.join_dem(
        corrected.select("image_id", "band", "tile_x", "tile_y", "cell",
                         "method", "px"),
        eng._features).select("image_id", "band", "tile_x", "tile_y",
                              "cell", "method", "px", "lum_px")
    both = orig.unionByName(corr)
    grouped = joins.aoi_containment_join(both, aoi_df)
    pixels = tmetrics.explode_pixels(grouped).persist()
    pixels.count()
    yield pixels
    pixels.unpersist()
    eng.unpersist()


@pytest.fixture(scope="module")
def metric_frames(eval_pixels, fixture_tables):
    oracle = fixture_tables[-1]
    got = tmetrics.evaluate_metrics(eval_pixels, approx=False).toPandas()
    exp = oracle.expected_metrics()
    exp = exp[exp["method"].isin([*EVAL_METHODS, tmetrics.ORIG_KEY])]
    return got, exp


def _three_pass_metrics(pixels):
    """Exact-mode evaluate_metrics as it was written with three readers
    of its per-group aggregate: original min/max and IQR fences joined
    back to the pixels as two broadcasts, the counts joined to the
    aggregate."""
    keys = ["group_id", "method", "band"]
    q = F.col("q")
    base = pixels.groupBy(*keys).agg(
        F.stddev_pop("value").alias("std_reduction"),
        (F.stddev_pop("value") / F.mean("value")).alias("cv_reduction"),
        F.expr("percentile(value, array(0.25, 0.5, 0.75))").alias("q"),
        (F.corr("value", "lum") ** 2).alias("determination_coefficient"),
        F.min("value").alias("vmin"), F.max("value").alias("vmax"),
    ).select(
        *keys, "std_reduction", "cv_reduction", "determination_coefficient",
        (q[2] - q[0]).alias("iqr_reduction"),
        q[1].alias("relative_median_difference"),
        (q[0] - (q[2] - q[0])).alias("fence_lo"),
        (q[2] + (q[2] - q[0])).alias("fence_hi"), "vmin", "vmax")
    orig_minmax = base.where(F.col("method") == tmetrics.ORIG_KEY).select(
        "group_id", "band", F.col("vmin").alias("orig_min"),
        F.col("vmax").alias("orig_max"))
    fences = base.select(*keys, "fence_lo", "fence_hi")
    v = F.col("value")
    counts = (pixels.join(F.broadcast(orig_minmax), ["group_id", "band"])
              .join(F.broadcast(fences), keys).groupBy(*keys).agg(
        F.sum(F.when((v < F.col("orig_min")) | (v > F.col("orig_max")), 1)
              .otherwise(0)).cast("double").alias("outliers_threshold"),
        F.sum(F.when((v < F.col("fence_lo")) | (v > F.col("fence_hi")), 1)
              .otherwise(0)).cast("double").alias("outliers_iqr")))
    wide = base.drop("fence_lo", "fence_hi", "vmin", "vmax") \
        .join(counts, keys)
    cols = ["std_reduction", "cv_reduction", "iqr_reduction",
            "relative_median_difference", "outliers_threshold",
            "outliers_iqr", "determination_coefficient"]
    stack = ", ".join(f"'{m}', {m}" for m in cols)
    return wide.selectExpr(
        *keys, f"stack({len(cols)}, {stack}) as (metric_id, value)")


def _sorted(pdf):
    return pdf.sort_values(["group_id", "method", "band", "metric_id"]) \
        .reset_index(drop=True)


def test_evaluate_metrics_equals_three_pass_exactly(eval_pixels,
                                                    metric_frames):
    """Same pixel partitions in, the same bits out: the single-reader
    plan changes where the aggregate goes, not what it computes."""
    got = _sorted(metric_frames[0])
    want = _sorted(_three_pass_metrics(eval_pixels)
                   .toPandas())
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def _jobs(spark, action, group):
    """Number of Spark jobs ``action`` runs (StatusTracker job group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("approx", [False, True])
def test_evaluate_metrics_job_count(spark, eval_pixels, approx):
    """Two pixel scans: the aggregate's exchange, the thresholds window's
    exchange, the broadcast, the counting exchange and the result."""
    n = _jobs(spark, lambda: tmetrics.evaluate_metrics(
        eval_pixels, approx=approx).toPandas(), f"eval-jobs-{approx}")
    assert n <= 5, n


def test_group_band_without_original_yields_no_rows(spark):
    """Thresholds come from the original image of the same (group, band);
    where it has no pixels there is nothing to compare against and no
    metric row, for any method."""
    rows = ([(1, tmetrics.ORIG_KEY, 0, float(v), 0.1 * v)
             for v in (1, 2, 3, 4, 5)]
            + [(1, "A", 0, float(v), 0.2 * v) for v in (0, 3, 6)]
            + [(1, "A", 1, float(v), 0.3 * v) for v in (1, 2, 3)]
            + [(2, "A", 0, float(v), 0.4 * v) for v in (1, 2, 3)])
    pixels = spark.createDataFrame(rows, tmetrics.PIXELS_SCHEMA)
    got = tmetrics.evaluate_metrics(pixels, approx=False).toPandas()
    assert set(zip(got["group_id"], got["method"], got["band"])) == {
        (1, tmetrics.ORIG_KEY, 0), (1, "A", 0)}
    assert len(got) == 14
    a = got[(got["method"] == "A")].set_index("metric_id")["value"]
    assert a["outliers_threshold"] == 2.0          # 0 < 1 and 6 > 5
    assert a["relative_median_difference"] == 3.0


def test_pixel_frames_bounded_and_in_order():
    """A 200-tile batch comes out as frames of at most FRAME_TILES tiles
    of pixels, which together are the batch's finite pixels tile by tile."""
    from terraspark.config import TILE
    n = TILE * TILE
    rng = np.random.default_rng(11)
    px = rng.normal(100.0, 20.0, (200, n)).astype("<f4")
    px[rng.random(px.shape) < 0.05] = np.nan
    lum = rng.random((200, n)).astype("<f4")
    batch = pd.DataFrame({
        "group_id": np.arange(200) % 3, "method": ["m%d" % (i % 4)
                                                   for i in range(200)],
        "band": np.arange(200) % 4,
        "px": [r.tobytes() for r in px], "lum_px": [r.tobytes() for r in lum]})
    frames = list(tmetrics.pixel_frames(
        iter([batch]), TILE, "method",
        (("value", "px", None), ("lum", "lum_px", None))))
    assert len(frames) == -(-200 // tmetrics.FRAME_TILES)
    assert all(len(f) <= tmetrics.FRAME_TILES * n for f in frames)

    want = {"group_id": [], "method": [], "band": [], "value": [], "lum": []}
    for i in range(200):
        keep = np.isfinite(px[i])
        want["group_id"] += [batch["group_id"][i]] * int(keep.sum())
        want["method"] += [batch["method"][i]] * int(keep.sum())
        want["band"] += [batch["band"][i]] * int(keep.sum())
        want["value"] += px[i][keep].astype(np.float64).tolist()
        want["lum"] += lum[i][keep].astype(np.float64).tolist()
    got = pd.concat(frames, ignore_index=True)
    pd.testing.assert_frame_equal(got, pd.DataFrame(want), check_exact=True,
                                  check_dtype=False)


def test_metrics_match_oracle(metric_frames):
    got, exp = metric_frames
    m = exp.merge(got, on=["group_id", "method", "band", "metric_id"],
                  suffixes=("_exp", "_got"), how="left")
    assert not m["value_got"].isna().any(), m[m["value_got"].isna()].head()
    denom = np.maximum(1.0, m["value_exp"].abs())
    rel = (m["value_got"] - m["value_exp"]).abs() / denom
    bad = m[rel > 1e-6]
    assert bad.empty, bad.head(20).to_string()
    assert len(got) == len(exp)


def test_rank_matches_oracle(metric_frames):
    got, exp = metric_frames
    for gid in sorted(exp["group_id"].unique()):
        r_got = rank.rank_scores(
            got[got["group_id"] == gid][["method", "band", "metric_id", "value"]])
        r_exp = rank.rank_scores(
            exp[exp["group_id"] == gid][["method", "band", "metric_id", "value"]])
        assert list(r_got["method"]) == list(r_exp["method"]), gid
        assert np.allclose(r_got["score"], r_exp["score"], rtol=1e-6), gid


def test_rank_semantics_hand_case():
    """Hand-computed case: one band, one reduction metric.
    orig std=10; A std=5 (better); B std=20 (worse).
    combine -> -10, -5, -20.  good: A (-5 > -10): norm = (-5+10)/(-5+10)=1.
    bad: B: norm = (-20 - -20)/(-10 - -20) - 1 = -1.  Scores: A=1, B=-1."""
    long = pd.DataFrame([
        {"method": "__orig__", "band": 0, "metric_id": "std_reduction", "value": 10.0},
        {"method": "A", "band": 0, "metric_id": "std_reduction", "value": 5.0},
        {"method": "B", "band": 0, "metric_id": "std_reduction", "value": 20.0},
    ])
    out = rank.rank_scores(long)
    assert list(out["method"]) == ["A", "B"]
    assert np.allclose(out["score"], [1.0, -1.0])


def test_rank_median_difference_semantics():
    """relative_median_difference: -abs(corrected - orig); equal -> 0."""
    long = pd.DataFrame([
        {"method": "__orig__", "band": 0,
         "metric_id": "relative_median_difference", "value": 100.0},
        {"method": "A", "band": 0,
         "metric_id": "relative_median_difference", "value": 100.0},
        {"method": "B", "band": 0,
         "metric_id": "relative_median_difference", "value": 90.0},
    ])
    out = rank.rank_scores(long)
    # A equals orig -> 0; B worse -> negative
    a = float(out.loc[out["method"] == "A", "score"].iloc[0])
    b = float(out.loc[out["method"] == "B", "score"].iloc[0])
    assert a == 0.0 and b < 0


def test_lossy_psnr_audit_matches_codec(spark):
    """The dataflow quantizer reproduction must equal the real codec
    roundtrip bit-for-bit (same f32 arithmetic), per (image, band)."""
    import numpy as np
    import pandas as pd
    from terraspark import codecs
    from terraspark.config import TILE
    from terraspark import metrics as tmetrics

    rng = np.random.default_rng(77)
    n_tiles = 4
    planes = {"img_a": rng.uniform(10, 900, (1, TILE, n_tiles * TILE))
              .astype(np.float32),
              "img_b": rng.normal(500, 80, (1, TILE, n_tiles * TILE))
              .astype(np.float32)}
    rows = []
    for iid, px in planes.items():
        for tx in range(n_tiles):
            blk = np.ascontiguousarray(
                px[0, :, tx * TILE:(tx + 1) * TILE])
            rows.append({"image_id": iid, "fmt": "jpeg", "band": 0,
                         "tile_x": tx, "tile_y": 0,
                         "px": blk.astype("<f4").tobytes()})
    tiles = spark.createDataFrame(
        pd.DataFrame(rows),
        "image_id string, fmt string, band int, tile_x int, tile_y int, "
        "px binary")
    got = tmetrics.lossy_psnr_audit(tiles).toPandas() \
        .set_index("image_id").sort_index()
    for iid, px in planes.items():
        dec2 = codecs.decode(codecs.encode(px, "jpeg"), "jpeg",
                             1, TILE, n_tiles * TILE)
        want = codecs.psnr(px[0], dec2[0])
        assert abs(got.loc[iid, "psnr"] - round(want, 3)) < 1e-9, iid
        assert bool(got.loc[iid, "pass_gate"]) == (want >= 40.0)


def test_hist_equalize_matches_per_pixel_path(spark):
    """The histogram-identity reduction (sum_b cdf[b]*cnt[b]) must equal
    the direct per-pixel equalization (every pixel mapped to its bin's
    CDF, then plain mean/std) -- an independent formula, not the
    engine's."""
    import numpy as np
    import pandas as pd
    from terraspark.config import TILE
    from terraspark import metrics as tmetrics

    rng = np.random.default_rng(5)
    n_tiles = 4
    plane = rng.gamma(2.0, 50.0, (TILE, n_tiles * TILE)).astype(np.float32)
    plane[rng.random(plane.shape) < 0.02] = np.nan   # NDV holes
    rows = []
    for tx in range(n_tiles):
        blk = np.ascontiguousarray(plane[:, tx * TILE:(tx + 1) * TILE])
        rows.append({"image_id": "im", "band": 0, "tile_x": tx,
                     "tile_y": 0, "px": blk.astype("<f4").tobytes()})
    tiles = spark.createDataFrame(
        pd.DataFrame(rows),
        "image_id string, band int, tile_x int, tile_y int, px binary")
    got = tmetrics.hist_equalize_summary(tiles).toPandas().iloc[0]

    vals = plane[np.isfinite(plane)].astype(np.float64)
    lo, hi = float(np.nanmin(plane)), float(np.nanmax(plane))
    idx = np.clip(np.floor((vals - lo) / (hi - lo) * 256), 0, 255) \
        .astype(np.int64)
    cnt = np.bincount(idx, minlength=256)
    cdf = np.cumsum(cnt) / len(vals)
    eq = cdf[idx]                       # per-pixel mapping
    assert got["n_px"] == len(vals)
    assert abs(got["mean_eq"] - eq.mean()) < 1e-3
    assert abs(got["std_eq"] - eq.std()) < 1e-3


def test_zonal_stats_hand_case(spark):
    import math
    base = spark.createDataFrame(
        [(100, 0, 2, 4.0, 10.0, 1.0, 3.0),
         (101, 0, 2, 8.0, 34.0, 3.0, 5.0),
         (102, 0, 5, 50.0, 520.0, 8.0, 12.0)],   # cell outside any zone
        "cell long, band int, n long, s double, ss double, "
        "vmin double, vmax double")
    cover = spark.createDataFrame([(1, 100), (1, 101)],
                                  "aoi_id int, cell long")
    out = tmetrics.zonal_stats(base, cover).collect()
    assert len(out) == 1                        # uncovered cell dropped
    r = out[0]
    assert (r["aoi_id"], r["band"], r["n_cells"], r["n_px"]) == (1, 0, 2, 4)
    assert r["mean"] == 3.0
    assert r["std"] == round(math.sqrt(44.0 / 4 - 9.0), 4)
    assert (r["vmin"], r["vmax"]) == (1.0, 5.0)


def test_zonal_stats_broadcasts_cover(spark):
    base = spark.createDataFrame(
        [(100, 0, 2, 4.0, 10.0, 1.0, 3.0)],
        "cell long, band int, n long, s double, ss double, "
        "vmin double, vmax double")
    cover = spark.createDataFrame([(1, 100)], "aoi_id int, cell long")
    plan = tmetrics.zonal_stats(base, cover)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
