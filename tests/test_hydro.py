"""D8 flow routing semantics (terraspark.hydro) on a hand grid."""
import numpy as np
from pyspark.sql import functions as F

from terraspark import cells, hydro
from terraspark.config import TILE


def _elev_df(spark, rows):
    return spark.createDataFrame(rows, "dem_id string, cell long, elev double")


def _key(ilat, ilon, res=7):
    return int((res << 56) | (ilat << 28) | ilon)


def test_flow_direction_hand_grid(spark):
    # 3x3 grid, center highest -> all neighbors downhill from center;
    # corner (0,0) lowest -> pit.  ilat +1 = north.
    #   elev layout (ilat 2 top):   5  6  7
    #                               4  9  8
    #                               1  2  3
    grid = {(2, 0): 5.0, (2, 1): 6.0, (2, 2): 7.0,
            (1, 0): 4.0, (1, 1): 9.0, (1, 2): 8.0,
            (0, 0): 1.0, (0, 1): 2.0, (0, 2): 3.0}
    rows = [("d", _key(la, lo), v) for (la, lo), v in grid.items()]
    out = {r["cell"]: r for r in
           hydro.flow_direction(_elev_df(spark, rows)).collect()}

    # pit: (0,0) has no lower neighbor
    assert out[_key(0, 0)]["flow_dir"] == -1
    assert out[_key(0, 0)]["drop"] == 0.0
    # center (1,1)=9: steepest drop is to (0,0)=1: diag drop 8/sqrt2=5.657
    # vs S (0,1)=2 drop 7.0 -> S wins (dir 6 is N... check deltas):
    # dir 5 = (-1,-1) toward (0,0): 8/sqrt2 = 5.657; dir 6 = (-1,0)
    # toward (0,1): drop 7.0 -> dir 6.
    assert out[_key(1, 1)]["flow_dir"] == 6
    assert abs(out[_key(1, 1)]["drop"] - 7.0) < 1e-9
    # (0,1)=2 flows W to the pit (drop 1.0) vs SW none; W = dir 4
    assert out[_key(0, 1)]["flow_dir"] == 4
    # inflow: the pit receives from (0,1) W-flow, (1,0) S-flow(4->1 drop 3
    # vs SE (0,1)... compute: (1,0)=4: S (0,0)=1 drop 3.0 dir 6; E (1,1)=9
    # no; SE (0,1)=2 drop 2/sqrt2; -> dir 6 into pit), and (1,1) goes to
    # (0,1) not the pit.
    assert out[_key(1, 0)]["flow_dir"] == 6
    assert out[_key(0, 0)]["n_inflow"] == 2


def test_flow_direction_tie_breaks_to_lowest_dir(spark):
    # two equal drops: E and W both 1.0 lower -> dir 0 (E) wins
    rows = [("d", _key(5, 5), 10.0),
            ("d", _key(5, 6), 9.0),
            ("d", _key(5, 4), 9.0)]
    out = {r["cell"]: r for r in
           hydro.flow_direction(_elev_df(spark, rows)).collect()}
    assert out[_key(5, 5)]["flow_dir"] == 0


def test_cell_elevation_matches_numpy(spark, fixture_tables):
    _, _, dem, _, _, _ = fixture_tables
    from terraspark.fixtures import DEM_SCHEMA, to_spark
    got = {(r["dem_id"], r["cell"]): r["elev"]
           for r in hydro.cell_elevation(
               to_spark(spark, dem, DEM_SCHEMA)).collect()}
    for _, r in dem.iloc[:20].iterrows():
        exp = np.frombuffer(r["elev"], dtype="<f4") \
            .reshape(1, -1).astype(np.float64).mean(axis=1)[0]
        assert got[(r["dem_id"], int(r["cell"]))] == exp  # bit-equal


def test_flow_accumulation_hand_grid(spark):
    grid = {(2, 0): 5.0, (2, 1): 6.0, (2, 2): 7.0,
            (1, 0): 4.0, (1, 1): 9.0, (1, 2): 8.0,
            (0, 0): 1.0, (0, 1): 2.0, (0, 2): 3.0}
    rows = [("d", _key(la, lo), v) for (la, lo), v in grid.items()]
    flow = hydro.flow_direction(_elev_df(spark, rows))
    acc = {r["cell"]: r["acc"]
           for r in hydro.flow_accumulation(flow).collect()}
    # drainage tree: (2,2)->(2,1)->(1,0)<-(2,0); (1,2)->(0,2)->(0,1)
    # <-(1,1); (1,0),(0,1)->(0,0)
    assert acc[_key(2, 2)] == 1 and acc[_key(2, 1)] == 2
    assert acc[_key(1, 0)] == 4
    assert acc[_key(0, 1)] == 4
    assert acc[_key(0, 0)] == 9          # the pit drains everything
    assert sum(1 for v in acc.values()) == 9


def test_flow_accumulation_converges_early(spark):
    # a single chain of depth 3 must converge in <= 4 rounds (backstop
    # max_iter far above) and produce exact path counts
    rows = [("d", _key(0, i), float(10 - i)) for i in range(4)]
    flow = hydro.flow_direction(_elev_df(spark, rows))
    acc = {r["cell"]: r["acc"]
           for r in hydro.flow_accumulation(flow, max_iter=10).collect()}
    assert [acc[_key(0, i)] for i in range(4)] == [1, 2, 3, 4]


def test_watershed_single_pit(spark):
    grid = {(2, 0): 5.0, (2, 1): 6.0, (2, 2): 7.0,
            (1, 0): 4.0, (1, 1): 9.0, (1, 2): 8.0,
            (0, 0): 1.0, (0, 1): 2.0, (0, 2): 3.0}
    rows = [("d", _key(la, lo), v) for (la, lo), v in grid.items()]
    flow = hydro.flow_direction(_elev_df(spark, rows))
    out = hydro.watershed(flow).collect()
    assert len(out) == 9
    assert all(r["basin"] == _key(0, 0) for r in out)
    assert all(r["basin_size"] == 9 for r in out)


def test_watershed_two_basins(spark):
    # 1x6 ridge: 1 2 3 | 3 2 1 -> two pits at the ends
    elevs = [1.0, 2.0, 3.0, 3.0, 2.0, 1.0]
    rows = [("d", _key(0, i), e) for i, e in enumerate(elevs)]
    flow = hydro.flow_direction(_elev_df(spark, rows))
    out = {r["cell"]: r for r in hydro.watershed(flow).collect()}
    for i in range(3):
        assert out[_key(0, i)]["basin"] == _key(0, 0)
    for i in range(3, 6):
        assert out[_key(0, i)]["basin"] == _key(0, 5)
    assert all(r["basin_size"] == 3 for r in out.values())


def test_ruggedness_hand_case(spark):
    # 1x3 strip: 0, 3, 9 -> middle cell: nbrs (0, 9), tri = (3+6)/2,
    # relief = 9 - 0; left cell: nbr (3) only, tri = 3, relief = 3-0.
    rows = [("d", _key(4, 0), 0.0), ("d", _key(4, 1), 3.0),
            ("d", _key(4, 2), 9.0)]
    out = {r["cell"]: r for r in
           hydro.ruggedness(_elev_df(spark, rows)).collect()}
    mid = out[_key(4, 1)]
    assert mid["n_nbr"] == 2 and mid["tri"] == 4.5 and mid["relief"] == 9.0
    left = out[_key(4, 0)]
    assert left["n_nbr"] == 1 and left["tri"] == 3.0 and left["relief"] == 3.0


def test_flow_accumulation_unconverged_raises(spark, monkeypatch):
    """A path crossing more block edges than max_iter allows must raise,
    not silently return a truncated (wrong) accumulation."""
    import pytest
    from terraspark import hydro
    # 2-cell blocks: the chain below spans 3 blocks, so it needs 3 rounds
    monkeypatch.setattr(hydro, "_BLOCK", 2)
    # a 6-cell chain: cell i drains east (dir 0 in D8 order) to i+1
    rows = [(1, i, 0 if i < 5 else -1, 0.1, 0) for i in range(6)]
    flow = spark.createDataFrame(
        rows, "dem_id int, cell long, flow_dir int, drop double, "
              "n_inflow long")
    from terraspark.hydro import D8
    assert D8[0][1:3] == (0, 1), "test assumes dir index 0 == east"
    ok = hydro.flow_accumulation(flow, max_iter=10)
    assert {r["acc"] for r in ok.collect()} == {1, 2, 3, 4, 5, 6}
    with pytest.raises(RuntimeError, match="did not converge"):
        hydro.flow_accumulation(flow, max_iter=2)


def test_cost_distance_chain_hand_case(spark):
    """3-cell east-west chain, seed at the west end: costs accumulate
    the average-cell rule exactly; convergence guard fires on a too-low
    max_iter."""
    import pytest
    from terraspark import hydro
    elev = spark.createDataFrame(
        [("d", 0, 8.0), ("d", 1, 4.0), ("d", 2, 2.0)],
        "dem_id string, cell long, elev double")
    seeds = spark.createDataFrame([("d", 0)], "dem_id string, cell long")
    got = {r["cell"]: r["cost"]
           for r in hydro.cost_distance(elev, seeds).collect()}
    assert got == {0: 0.0, 1: 6.0, 2: 9.0}   # (8+4)/2, then + (4+2)/2
    with pytest.raises(RuntimeError, match="did not converge"):
        hydro.cost_distance(elev, seeds, max_iter=1)


def test_focal_stats_strip(spark):
    # 1x3 strip [0, 3, 9], radius 1 (window includes the center):
    # middle window {0,3,9}: mean 4, std sqrt(14), range 9;
    # left window {0,3}: mean 1.5, std 1.5.
    rows = [("d", _key(4, 0), 0.0), ("d", _key(4, 1), 3.0),
            ("d", _key(4, 2), 9.0)]
    out = {r["cell"]: r for r in
           hydro.focal_stats(_elev_df(spark, rows), radius=1).collect()}
    mid = out[_key(4, 1)]
    assert mid["n_win"] == 3 and mid["fmean"] == 4.0
    assert mid["fmin"] == 0.0 and mid["fmax"] == 9.0 and mid["frange"] == 9.0
    assert abs(mid["fstd"] - 14.0 ** 0.5) < 1e-3
    left = out[_key(4, 0)]
    assert left["n_win"] == 2 and left["fmean"] == 1.5 and left["fstd"] == 1.5


def test_focal_stats_radius2_window_size(spark):
    # a 5x5 full grid: the center cell sees all 25 cells at radius 2
    rows = [("d", _key(la, lo), float(la * 5 + lo))
            for la in range(5) for lo in range(5)]
    out = {r["cell"]: r for r in
           hydro.focal_stats(_elev_df(spark, rows), radius=2).collect()}
    assert out[_key(2, 2)]["n_win"] == 25
    assert out[_key(0, 0)]["n_win"] == 9       # corner: 3x3 in-grid
    assert out[_key(2, 2)]["fmean"] == 12.0    # mean of 0..24


def test_openness_strip(spark):
    # 1x3 strip [0, 3, 9], max_dist 2: cell 0 sees only E
    # (d=1: 3/1, d=2: 9/2=4.5 -> ht 4.5); middle sees E (6) and W (-3).
    rows = [("d", _key(4, 0), 0.0), ("d", _key(4, 1), 3.0),
            ("d", _key(4, 2), 9.0)]
    out = {r["cell"]: r for r in
           hydro.openness(_elev_df(spark, rows), max_dist=2).collect()}
    left = out[_key(4, 0)]
    assert left["n_dir"] == 1
    assert left["horizon_mean"] == 4.5 and left["horizon_max"] == 4.5
    mid = out[_key(4, 1)]
    assert mid["n_dir"] == 2
    assert mid["horizon_max"] == 6.0 and mid["horizon_mean"] == 1.5


def _y_network(spark):
    """Two order-1 headwaters merging at m, then draining east to t."""
    rows = [("d", _key(1, 1), 6, 1.0, 0),    # h1 -> S  -> m
            ("d", _key(0, 0), 0, 1.0, 0),    # h2 -> E  -> m
            ("d", _key(0, 1), 0, 1.0, 2),    # m  -> E  -> t
            ("d", _key(0, 2), -1, 0.0, 1)]   # t: pit
    flow = spark.createDataFrame(
        rows, "dem_id string, cell long, flow_dir int, drop double, "
              "n_inflow long")
    acc = spark.createDataFrame(
        [("d", _key(1, 1), 1), ("d", _key(0, 0), 1),
         ("d", _key(0, 1), 3), ("d", _key(0, 2), 4)],
        "dem_id string, cell long, acc long")
    return flow, acc


def test_strahler_y_merge(spark):
    flow, acc = _y_network(spark)
    out = {r["cell"]: r for r in
           hydro.strahler(flow, acc, threshold=1).collect()}
    assert out[_key(1, 1)]["strahler"] == 1
    assert out[_key(0, 0)]["strahler"] == 1
    assert out[_key(0, 1)]["strahler"] == 2   # two order-1 inflows merge
    assert out[_key(0, 2)]["strahler"] == 2   # single order-2 inflow
    assert out[_key(0, 2)]["acc"] == 4


def test_strahler_threshold_cuts_headwaters(spark):
    # threshold 2 drops both headwaters from the stream set: m loses its
    # stream inflows and restarts at order 1.
    flow, acc = _y_network(spark)
    out = {r["cell"]: r["strahler"] for r in
           hydro.strahler(flow, acc, threshold=2).collect()}
    assert out == {_key(0, 1): 1, _key(0, 2): 1}


def test_strahler_unconverged_raises(spark, monkeypatch):
    import pytest
    # 2-cell blocks put t in a block of its own: two rounds needed
    monkeypatch.setattr(hydro, "_BLOCK", 2)
    flow, acc = _y_network(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        hydro.strahler(flow, acc, threshold=1, max_iter=1)


def test_flow_length_hand_grid(spark):
    # 3x3 bowl grid from the accumulation test: verify the longest
    # upstream path lengths at the pit and along the known tree.
    grid = {(2, 0): 5.0, (2, 1): 6.0, (2, 2): 7.0,
            (1, 0): 4.0, (1, 1): 9.0, (1, 2): 8.0,
            (0, 0): 1.0, (0, 1): 2.0, (0, 2): 3.0}
    rows = [("d", _key(la, lo), v) for (la, lo), v in grid.items()]
    flow = hydro.flow_direction(_elev_df(spark, rows))
    out = {r["cell"]: r["flen"]
           for r in hydro.flow_length(flow).collect()}
    # headwaters have no upstream path
    assert out[_key(2, 2)] == 0.0 and out[_key(1, 1)] == 0.0
    # (2,2)->(2,1) is one unit W step -> flen[(2,1)] = 1
    assert out[_key(2, 1)] == 1.0
    # longest into the pit: (2,2)->(2,1)->(1,0)->(0,0): 1 + sqrt2 + 1
    # (flen ships rounded to 6 dp)
    import math
    assert out[_key(0, 0)] == round(2.0 + math.sqrt(2.0), 6)


def test_flow_length_unconverged_raises(spark, monkeypatch):
    import pytest
    # 2-cell blocks put t in a block of its own: two rounds needed
    monkeypatch.setattr(hydro, "_BLOCK", 2)
    flow, _ = _y_network(spark)
    ok = {r["cell"]: r["flen"]
          for r in hydro.flow_length(flow, max_iter=10).collect()}
    assert ok[_key(0, 2)] == 2.0   # h2 -> m -> t, two unit E steps
    with pytest.raises(RuntimeError, match="did not converge"):
        hydro.flow_length(flow, max_iter=1)


def test_shadow_mask_nw_sun(spark):
    # b=(3,2) sits NW of a=(2,3): a's horizon toward the NW sun is
    # (1-0)/sqrt2 ~ 0.707 > 0.25 -> shadowed; b has no NW neighbor.
    rows = [("d", _key(2, 3), 0.0), ("d", _key(3, 2), 1.0)]
    out = {r["cell"]: r for r in
           hydro.shadow_mask(_elev_df(spark, rows), sun_dir=3,
                             sun_tan=0.25).collect()}
    import math
    a = out[_key(2, 3)]
    assert a["shadowed"] is True
    assert a["horizon_tan"] == round(1.0 / math.sqrt(2.0), 6)
    b = out[_key(3, 2)]
    assert b["shadowed"] is False and b["horizon_tan"] == 0.0


def test_shadow_mask_threshold(spark):
    # same geometry, sun high enough (tan 0.8 > 0.707): no shadow
    rows = [("d", _key(2, 3), 0.0), ("d", _key(3, 2), 1.0)]
    out = {r["cell"]: r["shadowed"] for r in
           hydro.shadow_mask(_elev_df(spark, rows), sun_dir=3,
                             sun_tan=0.8).collect()}
    assert out[_key(2, 3)] is False


def test_curvature_parabolic_ridge(spark):
    # z = x^2 + x over the 3x3 window: D=1, E=0, Fc=0, G=1, H=0 ->
    # profile = -2, plan = 0; only the center has a full neighborhood.
    rows = [("d", _key(3 + dy, 3 + dx), float(dx * dx + dx))
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    out = hydro.curvature(_elev_df(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["cell"] == _key(3, 3)
    assert r["profile_c"] == -2.0 and r["plan_c"] == 0.0


def test_curvature_flat_guard(spark):
    # a flat 3x3 window: G = H = 0 -> both curvatures 0 by the guard
    rows = [("d", _key(3 + dy, 3 + dx), 7.0)
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    out = hydro.curvature(_elev_df(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["profile_c"] == 0.0 and out[0]["plan_c"] == 0.0


def test_wetness_index_hand_grid(spark):
    import math
    # strip: 3 -> 2 -> 1 (E-to-W descent); pit at (5,0)
    rows = [("d", _key(5, 0), 1.0), ("d", _key(5, 1), 2.0),
            ("d", _key(5, 2), 3.0)]
    flow = hydro.flow_direction(_elev_df(spark, rows))
    acc = hydro.flow_accumulation(flow)
    out = {r["cell"]: r for r in
           hydro.wetness_index(flow, acc).collect()}
    # head cell: acc 1, drop 1.0 -> ln(1 / 1.001)
    assert abs(out[_key(5, 2)]["twi"]
               - round(math.log(1 / 1.001), 6)) < 1e-12
    # pit: acc 3, drop 0 -> ln(3 / 0.001)
    assert out[_key(5, 0)]["acc"] == 3
    assert abs(out[_key(5, 0)]["twi"]
               - round(math.log(3 / 0.001), 6)) < 1e-12


def test_viewshed_ridge_blocks(spark):
    # W-to-E strip: observer 0, ridge +10 at d=1, then flat 0s: the
    # ridge is visible, everything behind it (tan < 10) is occluded.
    rows = [("d", _key(5, 0), 0.0), ("d", _key(5, 1), 10.0),
            ("d", _key(5, 2), 0.0), ("d", _key(5, 3), 0.0),
            ("d", _key(5, 4), 0.0)]
    out = {r["cell"]: r for r in
           hydro.viewshed(_elev_df(spark, rows), max_dist=4).collect()}
    obs = out[_key(5, 0)]
    # E ray: 4 targets, only the ridge visible; horizon tan = 10
    assert obs["n_rays"] == 4
    assert obs["n_visible"] == 1
    assert abs(obs["horizon_tan"] - 10.0) < 1e-9
    # ridge cell sees its E neighbors descending: only nearest visible
    ridge = out[_key(5, 1)]
    assert ridge["n_rays"] == 4  # W:1 + E:3


def test_viewshed_monotone_all_visible(spark):
    # strictly rising E ray -> every target visible from the base
    rows = [("d", _key(5, k), float(k * k)) for k in range(5)]
    out = {r["cell"]: r for r in
           hydro.viewshed(_elev_df(spark, rows), max_dist=4).collect()}
    obs = out[_key(5, 0)]
    # tangents k*k/k = k strictly increase -> all 4 visible
    assert obs["n_visible"] == 4


def test_fill_sinks_pit_rises_to_pour_point(spark):
    # 5x5 grid, rim 5.0 with a 3.0 outlet AT the boundary (water exits
    # only through boundary cells), inner ring 4.0 with a 2.0 channel
    # toward the outlet, center pit 1.0: the pit and channel fill to
    # the outlet's 3.0 pour level, the 4.0 ring is untouched.
    rows = []
    for la in range(5):
        for lo in range(5):
            if la == 2 and lo == 2:
                v = 1.0          # pit
            elif la in (0, 4) or lo in (0, 4):
                v = 3.0 if (la, lo) == (2, 0) else 5.0  # rim + outlet
            elif (la, lo) == (2, 1):
                v = 2.0          # channel from pit toward the outlet
            else:
                v = 4.0          # inner ring
            rows.append(("d", _key(la, lo), v))
    out = {r["cell"]: r for r in
           hydro.fill_sinks(_elev_df(spark, rows)).collect()}
    # channel: W = max(2, min nbr W) with the 3.0 outlet adjacent -> 3
    assert out[_key(2, 1)]["filled"] == 3.0
    assert abs(out[_key(2, 1)]["fill_depth"] - 1.0) < 1e-12
    # pit: lowest route out is over the channel at 3.0
    assert out[_key(2, 2)]["filled"] == 3.0
    assert abs(out[_key(2, 2)]["fill_depth"] - 2.0) < 1e-12
    # boundary cells never move
    assert out[_key(0, 0)]["filled"] == 5.0
    assert out[_key(2, 0)]["filled"] == 3.0
    # inner-ring cells above the pour level return to their elevation
    assert out[_key(1, 1)]["filled"] == 4.0


def test_fill_sinks_no_pit_identity(spark):
    # monotone slope: nothing to fill, surface comes back unchanged
    rows = [("d", _key(la, lo), float(la + lo))
            for la in range(4) for lo in range(4)]
    out = hydro.fill_sinks(_elev_df(spark, rows)).collect()
    assert all(r["fill_depth"] == 0.0 for r in out)
    assert all(r["filled"] == r["elev"] for r in out)


def test_hypsometry_bins_and_fractions(spark):
    # 10 cells at elevations 0..9: one per decile bin, rel r = k/9
    rows = [("d", _key(5, k), float(k)) for k in range(10)]
    out = {r["bin"]: r for r in
           hydro.hypsometry(_elev_df(spark, rows)).collect()}
    assert set(out) == set(range(10))
    assert all(out[b]["n_cells"] == 1 for b in out)
    assert all(abs(out[b]["area_frac"] - 0.1) < 1e-12 for b in out)
    # top cell: r = 1.0 clamps into bin 9
    assert out[9]["rel_mean"] == 1.0


def test_hypsometry_flat_dem_single_bin(spark):
    rows = [("d", _key(5, k), 7.0) for k in range(5)]
    out = hydro.hypsometry(_elev_df(spark, rows)).collect()
    assert len(out) == 1 and out[0]["bin"] == 0
    assert out[0]["area_frac"] == 1.0 and out[0]["rel_mean"] == 0.0


def test_sky_view_factor_flat_and_wall(spark):
    # flat 3-cell strip: horizon tangent <= 0 everywhere -> svf = 1
    rows = [("d", _key(5, k), 2.0) for k in range(3)]
    out = {r["cell"]: r for r in
           hydro.sky_view_factor(_elev_df(spark, rows)).collect()}
    assert all(r["svf"] == 1.0 for r in out.values())
    # add a wall east of a cell: tangent 1 -> that direction's sky
    # term is 1 - 1/sqrt(2); the remaining (in-grid W) direction is 1
    import math
    rows = [("d", _key(5, 0), 0.0), ("d", _key(5, 1), 0.0),
            ("d", _key(5, 2), 2.0)]
    out = {r["cell"]: r for r in
           hydro.sky_view_factor(_elev_df(spark, rows)).collect()}
    mid = out[_key(5, 1)]
    assert mid["n_dir"] == 2  # E and W only (1-row strip)
    exp = ((1 - 2.0 / math.sqrt(1 + 4.0)) + 1.0) / 2
    assert abs(mid["svf"] - round(exp, 6)) < 1e-12


def test_solar_access_wall_blocks_one_azimuth(spark):
    # flat strip with a tall E wall: the middle cell loses only the E
    # azimuth (tangent 3 > 0.25); W stays lit (tangent 0 <= 0.25)
    rows = [("d", _key(5, 0), 0.0), ("d", _key(5, 1), 0.0),
            ("d", _key(5, 2), 3.0)]
    out = {r["cell"]: r for r in
           hydro.solar_access(_elev_df(spark, rows),
                              sun_tan=0.25).collect()}
    mid = out[_key(5, 1)]
    assert mid["n_dir"] == 2 and mid["n_lit"] == 1
    assert mid["lit_frac"] == 0.5
    # the wall cell itself: everything below it -> fully lit
    assert out[_key(5, 2)]["n_lit"] == out[_key(5, 2)]["n_dir"]


def test_stream_segments_junction_breaks_chain(spark):
    # Y network: west chain (1,0)->(1,1) and north head (2,2) both
    # drain into junction (1,2), trunk continues to pit (1,3).
    # threshold=1 -> all 5 cells are stream; the junction (2 inflows)
    # breaks chains: segments {(1,0),(1,1)}, {(2,2)}, {(1,2),(1,3)}.
    rows = [("d", _key(1, 0), 5.0), ("d", _key(1, 1), 4.0),
            ("d", _key(1, 2), 3.0), ("d", _key(1, 3), 2.0),
            ("d", _key(2, 2), 6.0)]
    flow = hydro.flow_direction(_elev_df(spark, rows))
    acc = hydro.flow_accumulation(flow)
    out = {r["segment"]: r for r in
           hydro.stream_segments(flow, acc, threshold=1).collect()}
    assert len(out) == 3
    west = out[_key(1, 1)]
    assert west["n_cells"] == 2 and west["seg_len"] == 1.0
    head = out[_key(2, 2)]
    assert head["n_cells"] == 1 and head["seg_len"] == 0.0
    trunk = out[_key(1, 3)]
    assert trunk["n_cells"] == 2 and trunk["seg_len"] == 1.0


def test_stream_segments_plain_chain_single_segment(spark):
    # 8-cell descending strip, threshold 5: the last 4 cells form ONE
    # junction-free segment of length 3 ending at the pit.
    rows = [("d", _key(3, i), float(10 - i)) for i in range(8)]
    flow = hydro.flow_direction(_elev_df(spark, rows))
    acc = hydro.flow_accumulation(flow)
    out = hydro.stream_segments(flow, acc, threshold=5).collect()
    assert len(out) == 1
    seg = out[0]
    assert seg["segment"] == _key(3, 7)
    assert seg["n_cells"] == 4 and seg["seg_len"] == 3.0


def test_hand_chain_and_unreached(spark):
    import math
    # 8-cell descending strip, threshold 5: stream = last 4 cells.
    # cell at position 0 walks 4 hops to the first stream cell (pos 4):
    # dist 4.0, hand = elev(0) - elev(4) = 4.0.  Stream cells: 0/0.
    rows = [("d", _key(3, i), float(10 - i)) for i in range(8)]
    flow = hydro.flow_direction(_elev_df(spark, rows))
    acc = hydro.flow_accumulation(flow)
    elev = _elev_df(spark, rows)
    out = {r["cell"]: r for r in
           hydro.hand(elev, flow, acc, threshold=5).collect()}
    head = out[_key(3, 0)]
    assert head["reached"] and head["dist_to_stream"] == 4.0
    assert head["hand"] == 4.0
    sc = out[_key(3, 4)]
    assert sc["reached"] and sc["dist_to_stream"] == 0.0
    assert sc["hand"] == 0.0
    # isolated 2-cell dem: pit never reaches a stream (threshold high)
    rows2 = [("x", _key(0, 0), 2.0), ("x", _key(0, 1), 1.0)]
    flow2 = hydro.flow_direction(_elev_df(spark, rows2))
    out2 = {r["cell"]: r for r in
            hydro.hand(_elev_df(spark, rows2), flow2,
                       hydro.flow_accumulation(flow2),
                       threshold=5).collect()}
    assert not out2[_key(0, 0)]["reached"]
    assert out2[_key(0, 0)]["hand"] is None
    assert out2[_key(0, 0)]["dist_to_stream"] is None


def _py_d8(g):
    """Python reference D8: (flow_to, drop) per cell, ties to lowest
    dir index; None for pits."""
    import math as _m
    n, m = g.shape
    out = {}
    for la in range(n):
        for lo in range(m):
            best = None
            for d, dla, dlo, dist in hydro.D8:
                ta, to = la + dla, lo + dlo
                if 0 <= ta < n and 0 <= to < m:
                    drop = (g[la, lo] - g[ta, to]) / dist
                    if drop > 0 and (best is None or drop > best[0]
                                     or (drop == best[0] and d < best[1])):
                        best = (drop, d, (ta, to), dist)
            out[(la, lo)] = best
    return out


import pytest


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_fill_sinks_matches_python_reference(spark, seed):
    """Random 5x5 grids: the engine fixpoint equals a plain python
    Planchon-Darboux relaxation (boundary pinned, interior from the
    max, W = max(elev, min nbr W))."""
    rng = np.random.default_rng(seed)
    n = 5
    g = rng.uniform(0.0, 10.0, (n, n))
    W = np.full((n, n), g.max())
    b = np.zeros((n, n), bool)
    b[0, :] = b[-1, :] = b[:, 0] = b[:, -1] = True
    W[b] = g[b]
    for _ in range(500):
        old = W.copy()
        for la in range(1, n - 1):
            for lo in range(1, n - 1):
                mn = min(W[la + dla, lo + dlo]
                         for dla in (-1, 0, 1) for dlo in (-1, 0, 1)
                         if (dla, dlo) != (0, 0))
                W[la, lo] = max(g[la, lo], mn)
        if np.array_equal(W, old):
            break
    rows = [("d", _key(la, lo), float(g[la, lo]))
            for la in range(n) for lo in range(n)]
    out = {r["cell"]: r for r in
           hydro.fill_sinks(_elev_df(spark, rows)).collect()}
    for la in range(n):
        for lo in range(n):
            got = out[_key(la, lo)]["filled"]
            assert abs(got - W[la, lo]) < 5e-7, (seed, la, lo)


@pytest.mark.parametrize("seed", [3, 4])
def test_hand_matches_python_reference(spark, seed):
    """Random 5x5 grids: engine HAND equals the python walk to the
    first stream cell (acc >= 3) along the D8 argmax path."""
    rng = np.random.default_rng(seed)
    n = 5
    g = rng.uniform(0.0, 10.0, (n, n))
    flow_ref = _py_d8(g)
    # path-count accumulation
    acc = {k: 1 for k in flow_ref}
    for start in flow_ref:
        cur = start
        seen = set()
        while flow_ref[cur] is not None:
            cur = flow_ref[cur][2]
            assert cur not in seen
            seen.add(cur)
            acc[cur] += 1
    stream = {k for k, v in acc.items() if v >= 3}
    rows = [("d", _key(la, lo), float(g[la, lo]))
            for la in range(n) for lo in range(n)]
    elev = _elev_df(spark, rows)
    flow = hydro.flow_direction(elev)
    out = {r["cell"]: r for r in
           hydro.hand(elev, flow, hydro.flow_accumulation(flow),
                      threshold=3).collect()}
    for k in flow_ref:
        cur, dist = k, 0.0
        reached = cur in stream
        while not reached and flow_ref[cur] is not None:
            dist = dist + flow_ref[cur][3]
            cur = flow_ref[cur][2]
            reached = cur in stream
        r = out[_key(*k)]
        assert r["reached"] == reached, (seed, k)
        if reached:
            assert abs(r["dist_to_stream"] - dist) < 5e-7, (seed, k)
            assert abs(r["hand"] - (g[k] - g[cur])) < 5e-7, (seed, k)


FLOW = "dem_id string, cell long, flow_dir int"


def test_missing_target_is_a_pit_except_for_watershed(spark):
    # row 0 drains east off the frame: (0,3)'s target (0,4) is not a row;
    # (1,2) joins the chain from the north.  Row 5 is a plain two-cell
    # basin.  Accumulation and flow length end such a path at (0,3) as
    # at a pit; watershed drops (0,3) and its whole upstream.
    rows = ([("d", _key(0, i), 0) for i in range(4)]
            + [("d", _key(1, 2), 6), ("d", _key(5, 0), 0),
               ("d", _key(5, 1), -1)])
    flow = spark.createDataFrame(rows, FLOW)
    acc = {r["cell"]: r["acc"]
           for r in hydro.flow_accumulation(flow).collect()}
    assert acc == {_key(0, 0): 1, _key(0, 1): 2, _key(1, 2): 1,
                   _key(0, 2): 4, _key(0, 3): 5, _key(5, 0): 1,
                   _key(5, 1): 2}
    flen = {r["cell"]: r["flen"] for r in hydro.flow_length(flow).collect()}
    assert flen == {_key(0, 0): 0.0, _key(0, 1): 1.0, _key(1, 2): 0.0,
                    _key(0, 2): 2.0, _key(0, 3): 3.0, _key(5, 0): 0.0,
                    _key(5, 1): 1.0}
    ws = {r["cell"]: (r["basin"], r["basin_size"])
          for r in hydro.watershed(flow).collect()}
    assert ws == {_key(5, 0): (_key(5, 1), 2), _key(5, 1): (_key(5, 1), 2)}


def test_fill_sinks_drops_cells_without_in_grid_neighbour(spark):
    # a 3x3 bowl plus one isolated cell: the isolated cell has no
    # in-grid neighbour and is absent from the output (the numpy model
    # shares this behaviour); the bowl's centre fills to its rim minimum
    rows = [("d", _key(la, lo), 1.0 if (la, lo) == (1, 1) else 2.0 + la)
            for la in range(3) for lo in range(3)]
    rows.append(("d", _key(9, 9), 0.5))
    out = {r["cell"]: r for r in
           hydro.fill_sinks(_elev_df(spark, rows)).collect()}
    assert set(out) == {_key(la, lo) for la in range(3) for lo in range(3)}
    assert out[_key(1, 1)]["filled"] == 2.0
    assert out[_key(1, 1)]["fill_depth"] == 1.0


@pytest.mark.parametrize("block", [None, 1])
def test_cyclic_flow(spark, monkeypatch, block):
    # (0,0) -> E -> (0,1) -> W -> (0,0), with (1,0) and (2,0) draining
    # into the cycle; block 1 puts the cycle across a block edge
    if block is not None:
        monkeypatch.setattr(hydro, "_BLOCK", block)
    a, b, c, d = _key(0, 0), _key(0, 1), _key(1, 0), _key(2, 0)
    flow = spark.createDataFrame(
        [("c", a, 0), ("c", b, 4), ("c", c, 6), ("c", d, 6)], FLOW)
    # a flow frame with a cycle is not a forest: the sums never settle
    for op in (hydro.flow_accumulation, hydro.flow_length):
        with pytest.raises(RuntimeError, match="did not converge"):
            op(flow, max_iter=3).collect()
    # Strahler's relaxation settles: the tributary lifts the cycle to 2
    acc = flow.select("dem_id", "cell", F.lit(9).cast("long").alias("acc"))
    out = {r["cell"]: r["strahler"] for r in
           hydro.strahler(flow, acc, threshold=1, max_iter=4).collect()}
    assert out == {a: 2, b: 2, c: 1, d: 1}
    if block is not None:
        # a path that reaches a cycle across a block edge never settles
        with pytest.raises(RuntimeError, match="did not converge"):
            hydro.watershed(flow, max_iter=4).collect()
        return
    # doubling over a 2-cycle: each cycle cell is its own basin, and a
    # cell an odd number of hops up takes the other one
    ws = {r["cell"]: (r["basin"], r["basin_size"])
          for r in hydro.watershed(flow).collect()}
    assert ws == {a: (a, 2), b: (b, 2), c: (b, 2), d: (a, 2)}


def test_watershed_cycle_length(spark):
    # a 4-cycle around a square settles like a 2-cycle; a 3-cycle never
    a, b, c, d = _key(0, 0), _key(0, 1), _key(1, 1), _key(1, 0)
    up = _key(2, 0)
    square = spark.createDataFrame(
        [("c", a, 0), ("c", b, 2), ("c", c, 4), ("c", d, 6), ("c", up, 6)],
        FLOW)
    ws = {r["cell"]: r["basin"] for r in hydro.watershed(square).collect()}
    assert ws == {a: a, b: b, c: c, d: d, up: c}
    triangle = spark.createDataFrame(
        [("c", a, 0), ("c", b, 2), ("c", c, 5)], FLOW)
    with pytest.raises(RuntimeError, match="did not converge in 5"):
        hydro.watershed(triangle, max_iter=5).collect()


def test_watershed_flow_dir_past_7_is_a_pit(spark):
    # flow_dir 9 names no D8 step: the cell drains to itself, a pit for
    # watershed (accumulation and flow length see a cycle there)
    rows = [("d", _key(0, 0), 9), ("d", _key(0, 1), 4), ("d", _key(0, 2), 4),
            ("d", _key(1, 0), 6)]
    ws = {r["cell"]: (r["basin"], r["basin_size"]) for r in
          hydro.watershed(spark.createDataFrame(rows, FLOW)).collect()}
    assert ws == {r[1]: (_key(0, 0), 4) for r in rows}
