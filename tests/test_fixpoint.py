"""The shared fixpoint driver: doubled flow accumulation / flow length
against plain one-hop references, loud non-convergence, and no session
conf side effects."""
import logging
import math
import threading

import numpy as np
import pytest

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
    (the pre-doubling loops' arithmetic: flen is the left fold of the
    step lengths along each path)."""
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


def test_doubling_matches_one_hop_reference(spark, monkeypatch):
    flow, rows = _forest(spark)
    acc_ref, flen_ref = _one_hop(rows)
    assert acc_ref[("chain", _key(3, 63))] == 64
    # the tree branches and takes diagonal (sqrt 2) steps
    tree = [fd for dem, _, fd in rows if dem == "tree"]
    assert {1, 3, 5, 7} & set(tree) and max(acc_ref.values()) > 64
    acc = {(r["dem_id"], r["cell"]): r["acc"] for r in
           hydro.flow_accumulation(flow, max_iter=8).collect()}
    assert acc == acc_ref
    flen = {(r["dem_id"], r["cell"]): r["flen"] for r in
            hydro.flow_length(flow, max_iter=8).collect()}
    assert flen == {k: round(v, 6) for k, v in flen_ref.items()}
    # before the 6-dp presentation round: the tree-shaped sums agree
    # with the left folds to 1e-9
    monkeypatch.setattr(hydro.F, "round", lambda c, _: hydro.F.col(c))
    raw = {(r["dem_id"], r["cell"]): r["flen"] for r in
           hydro.flow_length(flow, max_iter=8).collect()}
    assert raw.keys() == flen_ref.keys()
    assert all(math.isclose(raw[k], v, rel_tol=0.0, abs_tol=1e-9)
               for k, v in flen_ref.items())


def test_doubling_unconverged_raises(spark):
    # depth 63 needs 6 doubling rounds
    flow, _ = _forest(spark)
    for op in (hydro.flow_accumulation, hydro.flow_length):
        with pytest.raises(RuntimeError, match="did not converge in 5"):
            op(flow.where("dem_id = 'chain'"), max_iter=5)


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
