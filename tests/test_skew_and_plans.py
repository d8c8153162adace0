"""Skew handling (FIXTURES.md hot cell x100) + physical-plan regression
guards (broadcasts present, filters pushed, no stray shuffles)."""
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from terraspark import joins


@pytest.fixture(scope="module")
def skewed_tiles(spark):
    """Synthetic tile table: 99 cold cells with 2 tiles each, ONE hot cell
    with 200 tiles (100x skew)."""
    import pandas as pd
    from terraspark import cells

    rows = []
    hot = int(cells.encode(40.0, -105.0, 7))
    for i in range(200):
        rows.append({"image_id": f"h_{i:03d}", "band": 0, "tile_x": i,
                     "tile_y": 0, "cell": hot, "n_px": i})
    for c in range(99):
        cold = int(cells.encode(41.0 + 0.01 * c, -105.0, 7))
        for i in range(2):
            rows.append({"image_id": f"c_{c}_{i}", "band": 0, "tile_x": i,
                         "tile_y": 1, "cell": cold, "n_px": i})
    return spark.createDataFrame(pd.DataFrame(rows))


def test_salting_bounds_group_fanin(spark, skewed_tiles):
    """With salt_buckets=8 the probe side's max (cell, salt) group is ~1/8
    of the unsalted hot-cell group -- the task-skew bound."""
    k = 1
    from terraspark.cells import _LON_BITS
    offs = [(a, b) for a in (-1, 0, 1) for b in (-1, 0, 1)]
    nbr = F.array(*[(F.col("cell") + F.lit((a << _LON_BITS) + b)).cast("long")
                    for a, b in offs])
    probe = skewed_tiles.withColumn("nbr_cell", F.explode(nbr))

    unsalted_max = probe.groupBy("nbr_cell").count() \
        .agg(F.max("count")).collect()[0][0]

    salted = probe.withColumn(
        "salt", F.pmod(F.hash("image_id", "tile_x", "tile_y"),
                       F.lit(8)).cast("int"))
    salted_max = salted.groupBy("nbr_cell", "salt").count() \
        .agg(F.max("count")).collect()[0][0]

    assert unsalted_max >= 200                     # the hot cell dominates
    assert salted_max <= unsalted_max / 8 * 2.0    # bounded fan-in (2x slack)


def test_salted_ring_join_equivalence_under_skew(spark, skewed_tiles):
    plain = joins.ring_join(skewed_tiles, k=1, neighbor_cols=("cell", "n_px")).select(
        "image_id", "tile_x", "tile_y", "nbr_cell", "n_px")
    salted = joins.ring_join(skewed_tiles, k=1, neighbor_cols=("cell", "n_px"), salt_buckets=8).select(
        "image_id", "tile_x", "tile_y", "nbr_cell", "n_px")
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    # ring_join is same-image by design: every synthetic tile is its own
    # only neighbor here (200 hot + 99*2 cold), cross-image stacking in a
    # cell does NOT fan out this join (that's the DEM/AOI joins' job)
    assert plain.count() == 200 + 99 * 2


def test_join_plan_is_broadcast_and_pushed(spark, fixture_tables, tmp_path):
    """Plan guards: scenes + DEM features joins are broadcast; parquet scan
    prunes columns and pushes filters."""
    from terraspark import corrections
    from terraspark.fixtures import (DEM_SCHEMA, IMAGES_SCHEMA,
                                     SCENES_SCHEMA, to_spark)
    from terraspark.pipeline import TopoEngine

    images, scenes, dem, aoi, grids, oracle = fixture_tables
    p = str(tmp_path / "img.parquet")
    to_spark(spark, images, IMAGES_SCHEMA).write.parquet(p)
    images_df = spark.read.parquet(p).where(F.col("fmt") == "raw_f32")

    eng = TopoEngine(spark)
    feats = eng.dem_features(to_spark(spark, dem, DEM_SCHEMA), persist=False)
    j = corrections.join_dem(
        eng.tiles(images_df, to_spark(spark, scenes, SCENES_SCHEMA)), feats)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2      # scenes + DEM features
    assert "SortMergeJoin" not in plan
    scan_plan = images_df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(fmt), EqualTo(fmt,raw_f32)]" in scan_plan


def test_kernel_scalar_join_is_broadcast(spark, fixture_tables):
    """The distributed-scalars path must BROADCAST the tiny per-(image,
    band) scalar table into the kernel stage: without the hint the planner
    has no size statistics for an aggregation output and sort-merge-joins,
    shuffling the fat tile table (px + lum + slope blobs) -- measured 4x
    slower at 512 images."""
    from terraspark import corrections
    from terraspark.config import METHODS
    from terraspark.fixtures import (DEM_SCHEMA, IMAGES_SCHEMA,
                                     SCENES_SCHEMA, to_spark)
    from terraspark.pipeline import TopoEngine

    images, scenes, dem, aoi, grids, oracle = fixture_tables
    eng = TopoEngine(spark)
    j = eng.joined(to_spark(spark, images.iloc[:2], IMAGES_SCHEMA),
                   to_spark(spark, scenes, SCENES_SCHEMA),
                   to_spark(spark, dem, DEM_SCHEMA), persist=False)
    sc = eng.scalars_df(j)
    corrected = corrections.apply_corrections(j, sc, METHODS[:1],
                                              eng.params, eng.tile)
    plan = corrected._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    eng.unpersist()


def test_metrics_approx_percentile_close_to_exact(spark, fixture_tables):
    """The documented 100TB swap (percentile_approx) stays within 2% of the
    exact percentiles on the fixture distribution."""
    import pandas as pd
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({"g": rng.integers(0, 3, 20000),
                        "v": rng.gamma(3.0, 50.0, 20000)})
    df = spark.createDataFrame(pdf)
    exact = df.groupBy("g").agg(
        F.expr("percentile(v, array(0.25, 0.5, 0.75))").alias("q")).toPandas()
    approx = df.groupBy("g").agg(
        F.expr("percentile_approx(v, array(0.25, 0.5, 0.75), 10000)")
        .alias("q")).toPandas()
    e = np.array(exact.sort_values("g")["q"].tolist())
    a = np.array(approx.sort_values("g")["q"].tolist())
    assert np.all(np.abs(a - e) / e < 0.02)


def test_joined_repartition_only_when_scan_narrow(spark, fixture_tables):
    """The joined-tiles exchange is conditional (pipeline.TopoEngine
    .joined): a scan already wide enough to saturate the cores must NOT
    shuffle the fat joined rows (px + lum + slope, ~48 KB each -- ~1.6 GB
    at 512 images), while a narrow local input still gets the spreading
    repartition.  Guards the late-r3 data-movement win against
    regression."""
    from terraspark.fixtures import (DEM_SCHEMA, IMAGES_SCHEMA,
                                     SCENES_SCHEMA, to_spark)
    from terraspark.pipeline import TopoEngine

    images, scenes, dem, aoi, grids, oracle = fixture_tables
    assert spark.sparkContext.defaultParallelism >= 2, (
        "a one-core session never takes the narrow-scan repartition: "
        "this test needs at least 2 cores")
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # WIDE input: as many partitions as the shuffle target -> no
    # repartition exchange downstream of the tile map stage
    wide = to_spark(spark, images, IMAGES_SCHEMA).repartition(target)
    eng_w = TopoEngine(spark)
    j_w = eng_w.joined(wide, to_spark(spark, scenes, SCENES_SCHEMA),
                       to_spark(spark, dem, DEM_SCHEMA), persist=False)
    plan_w = j_w._jdf.queryExecution().executedPlan().toString()
    # the wide path must not hash-shuffle the fat joined rows on tile
    # identity (the input-widening round-robin from this test's own
    # .repartition(target) is upstream of the decode and fine)
    assert "hashpartitioning(image_id" not in plan_w

    # NARROW input: one partition -> the spreading repartition must appear
    narrow = to_spark(spark, images, IMAGES_SCHEMA).coalesce(1)
    eng_n = TopoEngine(spark)
    j_n = eng_n.joined(narrow, to_spark(spark, scenes, SCENES_SCHEMA),
                       to_spark(spark, dem, DEM_SCHEMA), persist=False)
    plan_n = j_n._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(image_id" in plan_n
    for eng in (eng_w, eng_n):
        eng.unpersist()


def test_explode_spreads_one_partition_over_the_cores(spark):
    """An AOI join keeps its input's layout, so an evaluation frame can
    reach explode_pixels in one partition; the fan-out must still run on
    every core (explicit partition count: AQE leaves it alone)."""
    import pandas as pd
    from terraspark import metrics as tmetrics
    from terraspark.config import TILE

    tiles = 16
    rng = np.random.default_rng(4)
    blob = [rng.random(TILE * TILE).astype("<f4").tobytes()
            for _ in range(tiles)]
    frame = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"img_{i % 2}" for i in range(tiles)],
        "band": [i % 4 for i in range(tiles)],
        "tile_x": list(range(tiles)), "tile_y": [0] * tiles,
        "method": [tmetrics.ORIG_KEY] * tiles, "group_id": [1] * tiles,
        "px": blob, "lum_px": blob,
    }), "image_id string, band int, tile_x int, tile_y int, method string, "
        "group_id int, px binary, lum_px binary").coalesce(1)
    cores = spark.sparkContext.defaultParallelism

    pixels = tmetrics.explode_pixels(frame)
    plan = re.sub(r"#\d+", "",
                  pixels._jdf.queryExecution().executedPlan().toString())
    assert f"hashpartitioning(image_id, band, tile_x, tile_y, method, " \
        f"{cores})" in plan
    per_part = pixels.groupBy(F.spark_partition_id().alias("p")).count() \
        .toPandas()
    assert per_part["count"].sum() == tiles * TILE * TILE
    assert len(per_part) >= min(cores, tiles), per_part


def test_new_rel_ops_plan_shapes(spark):
    """Plan guards for the round-5 relational additions: small sides
    broadcast, no sort-merge join sneaks in, and the single-shuffle
    claims hold (window reuses the aggregation's partitioning)."""
    import __spark_entry__ as E
    qs = E.queries()
    sf = "/root/testdata/sf0.001"

    # rel_winsorize: percentile cut points join back via broadcast
    plan = qs["rel_winsorize"](spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    # rel_markov: denominator joins back via broadcast
    plan = qs["rel_markov"](spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    # rel_velocity: ONE user_id exchange serves window + final agg --
    # no second hash-partitioning on user_id after the window sort
    plan = qs["rel_velocity"](spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning(user_id") == 1

    # rel_tpch_q10: nation broadcast; date filter pushed to the scan
    df = qs["rel_tpch_q10"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan
