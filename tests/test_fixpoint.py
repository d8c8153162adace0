"""The shared fixpoint driver: block-solved flow accumulation / flow
length against plain one-hop references, multi-block results equal to
one-block ones, loud non-convergence, and no session conf side
effects."""
import logging
import re
import threading

import numpy as np
import pytest
from pyspark.sql import GroupedData

from terraspark import hydro, vectorize

FLOW_SCHEMA = "dem_id string, cell long, flow_dir int"


def _key(ilat, ilon, res=7):
    return int((res << 56) | (ilat << 28) | ilon)


def _forest(spark):
    """A 64-cell chain draining east (dem 'chain') plus a branched forest
    with diagonal steps routed by flow_direction over a tilted random
    16 x 16 grid (dem 'tree')."""
    chain = [("chain", _key(3, i), 0 if i < 63 else -1) for i in range(64)]
    rng = np.random.default_rng(7)
    n = 16
    g = 3.0 * np.arange(n)[None, :] + rng.uniform(0.0, 2.5, (n, n))
    elev = spark.createDataFrame(
        [("tree", _key(la, lo), float(g[la, lo]))
         for la in range(n) for lo in range(n)],
        "dem_id string, cell long, elev double")
    tree = [(r["dem_id"], r["cell"], r["flow_dir"]) for r in
            hydro.flow_direction(elev).collect()]
    return spark.createDataFrame(chain + tree, FLOW_SCHEMA), chain + tree


def _one_hop(rows):
    """Plain-Python one-hop relaxation of acc and flen to their fixpoint
    (flen is the left fold of the step lengths along each path)."""
    step = 1 << hydro._LON_BITS
    delta = {d: (dla * step + dlo, dist) for d, dla, dlo, dist in hydro.D8}
    down = {(dem, c): ((dem, c + delta[fd][0]), delta[fd][1])
            for dem, c, fd in rows if fd >= 0}
    acc = {(dem, c): 1 for dem, c, _ in rows}
    flen = {k: 0.0 for k in acc}
    while True:
        nacc = {k: 1 for k in acc}
        nflen = {k: 0.0 for k in acc}
        for w, (c, d) in down.items():
            nacc[c] += acc[w]
            nflen[c] = max(nflen[c], flen[w] + d)
        if nacc == acc and nflen == flen:
            return acc, flen
        acc, flen = nacc, nflen


def test_block_solve_matches_one_hop_reference(spark, monkeypatch):
    flow, rows = _forest(spark)
    acc_ref, flen_ref = _one_hop(rows)
    assert acc_ref[("chain", _key(3, 63))] == 64
    # the tree branches and takes diagonal (sqrt 2) steps
    tree = [fd for dem, _, fd in rows if dem == "tree"]
    assert {1, 3, 5, 7} & set(tree) and max(acc_ref.values()) > 64
    # each DEM fits one block, so one round settles it
    acc = {(r["dem_id"], r["cell"]): r["acc"] for r in
           hydro.flow_accumulation(flow, max_iter=1).collect()}
    assert acc == acc_ref
    flen = {(r["dem_id"], r["cell"]): r["flen"] for r in
            hydro.flow_length(flow, max_iter=1).collect()}
    assert flen == {k: round(v, 6) for k, v in flen_ref.items()}
    # before the 6-dp presentation round: the sweep sums each path in
    # the one-hop left-fold order, so the raw lengths are equal
    monkeypatch.setattr(hydro.F, "round", lambda c, _: hydro.F.col(c))
    raw = {(r["dem_id"], r["cell"]): r["flen"] for r in
           hydro.flow_length(flow, max_iter=1).collect()}
    assert raw == flen_ref


def test_block_crossings_unconverged_raises(spark, monkeypatch):
    # 8-cell blocks: the 64-cell chain crosses 7 block edges, 8 rounds
    monkeypatch.setattr(hydro, "_BLOCK", 8)
    flow, _ = _forest(spark)
    for op in (hydro.flow_accumulation, hydro.flow_length):
        with pytest.raises(RuntimeError, match="did not converge in 5"):
            op(flow.where("dem_id = 'chain'"), max_iter=5)


def _bowl(spark):
    """A noisy 12 x 12 bowl (dem 'bowl') whose one basin and whose
    filled depression cross block edges at 4-cell blocks."""
    rng = np.random.default_rng(11)
    la, lo = np.mgrid[0:12, 0:12]
    g = (la - 5.5) ** 2 + (lo - 6.5) ** 2 + rng.uniform(0.0, 6.0, (12, 12))
    return spark.createDataFrame(
        [("bowl", _key(a, b), float(g[a, b]))
         for a in range(12) for b in range(12)],
        "dem_id string, cell long, elev double")


def _five(spark, flow, elev):
    """Sorted rows of the five block-solved operators."""
    acc = hydro.flow_accumulation(flow).localCheckpoint()
    out = [acc, hydro.watershed(flow), hydro.flow_length(flow),
           hydro.strahler(flow, acc, threshold=3), hydro.fill_sinks(elev)]
    return [sorted(map(tuple, df.collect())) for df in out]


def test_multi_block_equals_one_block(spark, monkeypatch):
    forest, rows = _forest(spark)
    elev = _bowl(spark)
    bowl = hydro.flow_direction(elev).select("dem_id", "cell", "flow_dir")
    flow = forest.unionByName(bowl).localCheckpoint()
    one = _five(spark, flow, elev)
    # the bowl drains to one pit, and its fill crosses block edges
    basins = {r[2] for r in one[1] if r[0] == "bowl"}
    assert len(basins) == 1
    filled = [r for r in one[4] if r[4] > 0]
    assert len({(r[1] >> 28 & 0xFFF) // 4 for r in filled}) > 1
    assert len({(r[1] & 0xFFF) // 4 for r in filled}) > 1

    block = 4
    monkeypatch.setattr(hydro, "_BLOCK", block)
    sc = spark.sparkContext
    groups, over = sc.accumulator(0), sc.accumulator(0)
    apply = GroupedData.applyInPandas

    def counted(self, func, schema):
        def f(pdf):
            groups.add(1)
            over.add(int(len(pdf) > (block + 2) ** 2))
            return func(pdf)
        return apply(self, f, schema)
    monkeypatch.setattr(GroupedData, "applyInPandas", counted)
    many = _five(spark, flow, elev)
    assert many == one
    # 16 blocks per forest DEM, 9 in the bowl, none over the bound
    assert groups.value >= 4 * 41 and over.value == 0

    acc_ref, flen_ref = _one_hop(
        rows + [(r["dem_id"], r["cell"], r["flow_dir"])
                for r in bowl.collect()])
    assert {(r[0], r[1]): r[2] for r in many[0]} == acc_ref
    assert {(r[0], r[1]): r[2] for r in many[2]} == \
        {k: round(v, 6) for k, v in flen_ref.items()}


def test_later_block_rounds_shuffle_by_block(spark, monkeypatch):
    # round one groups within the DEM-extent window's exchange on dem_id
    # alone; every later round shuffles by (dem_id, block)
    monkeypatch.setattr(hydro, "_BLOCK", 8)
    plans, fixpoint = [], hydro.fixpoint

    def spy(state, step, changed, max_iter, name):
        def traced(cur):
            out = step(cur)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out
        return fixpoint(state, traced, changed, max_iter, name)
    monkeypatch.setattr(hydro, "fixpoint", spy)
    flow, _ = _forest(spark)
    hydro.flow_accumulation(flow.where("dem_id = 'chain'")).collect()
    by_block = r"Exchange hashpartitioning\(dem_id#\d+, _k#\d+"
    assert len(plans) >= 2 and not re.search(by_block, plans[0])
    assert all(re.search(by_block, p) for p in plans[1:])


def _path_graph(spark, n):
    nodes = spark.createDataFrame([(i,) for i in range(n)], "cell long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)]
        + [(i + 1, i) for i in range(n - 1)], "src long, dst long")
    return nodes, edges


def test_connected_components_unconverged_raises(spark):
    nodes, edges = _path_graph(spark, 8)
    with pytest.raises(RuntimeError, match="did not converge"):
        vectorize.connected_components(nodes, edges, max_iter=1)
    got = vectorize.connected_components(nodes, edges).collect()
    assert {r["label"] for r in got} == {0}


def test_connected_components_leaves_session_conf(spark, caplog):
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    seen, stop = [], threading.Event()

    def watch():
        while not stop.is_set():
            seen.append({k: spark.conf.get(k) for k in keys})
            stop.wait(0.005)

    t = threading.Thread(target=watch)
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    t.start()
    try:
        with caplog.at_level(logging.DEBUG, logger="terraspark.fixpoint"):
            vectorize.connected_components(*_path_graph(spark, 32)).count()
    finally:
        stop.set()
        t.join(timeout=10)
        desc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(None)
    assert not t.is_alive() and len(seen) > 1
    assert all(s == before for s in seen)
    assert {k: spark.conf.get(k) for k in keys} == before
    assert desc == "outer"
    rounds = [r for r in caplog.records
              if r.getMessage().startswith("fixpoint connected_components")]
    assert rounds and "changed 0" in rounds[-1].getMessage()
