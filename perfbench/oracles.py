"""Correctness checks, run outside the timed region.

The image checks compare against ``terraspark.reference_model.OracleRun``;
the hydrology check is a single-process numpy model of the D8 stack
written here, independent of the engine's join/fixpoint formulation.
"""
from __future__ import annotations

import math

import numpy as np
import pandas as pd

# ------------------------------------------------------------- images
METRIC_KEYS = ["group_id", "method", "band", "metric_id"]


def same_summary(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Equal valid counts; means within one unit of the 3-dp rounding."""
    keys = ["image_id", "band", "method"]
    m = want.merge(got, on=keys, how="outer", suffixes=("_w", "_g"),
                   indicator=True)
    return (len(m) == len(want) and (m["_merge"] == "both").all()
            and (m["n_valid_w"] == m["n_valid_g"]).all()
            and bool(np.allclose(m["mean_px_w"], m["mean_px_g"],
                                 rtol=0, atol=1.5e-3)))


QUARTILE_METRICS = ("iqr_reduction", "relative_median_difference",
                    "outliers_iqr")


def approx_ranges(oracle, accuracy: int = 10_000) -> pd.DataFrame:
    """Per (group, method, band): the interval each quartile-derived
    metric may take when every quartile is off by at most the sketch's
    rank error (n / accuracy, plus one for interpolation), from the exact
    finite pixel values the oracle holds.  The allowance is twice the
    sketch's nominal rank error (partial summaries are merged across
    tasks) plus one rank for the interpolation convention (np.percentile
    interpolates, approx_percentile returns an element).  Ties at a fence
    make the IQR
    outlier count jump by their multiplicity, so a relative bound on the
    count does not hold in general (see README)."""
    from terraspark.config import BANDS, TILE
    from terraspark.metrics import ORIG_KEY
    rows = []
    for gid, g in oracle.tile_groups().groupby("group_id"):
        for m in (ORIG_KEY,) + tuple(oracle.methods):
            for b in range(BANDS):
                parts = []
                for t in g.itertuples(index=False):
                    if m == ORIG_KEY:
                        parts.append(oracle.decoded(t.image_id)[b][
                            t.tile_y * TILE:(t.tile_y + 1) * TILE,
                            t.tile_x * TILE:(t.tile_x + 1) * TILE])
                    else:
                        parts.append(oracle.corrected_tile(
                            t.image_id, m, b, t.tile_x, t.tile_y))
                v = np.concatenate([p.ravel() for p in parts])
                v = np.sort(v[np.isfinite(v)].astype(np.float64))
                n = len(v)
                r = math.ceil(2 * n / accuracy) + 1

                def q(p):
                    k = p * (n - 1)
                    return (v[max(0, math.floor(k) - r)],
                            v[min(n - 1, math.ceil(k) + r)])
                (a1, b1), (a2, b2), (a3, b3) = q(0.25), q(0.5), q(0.75)
                lo_min, lo_max = 2 * a1 - b3, 2 * b1 - a3     # q1 - iqr
                hi_min, hi_max = 2 * a3 - b1, 2 * b3 - a1     # q3 + iqr
                out_min = (np.searchsorted(v, lo_min, "left")
                           + n - np.searchsorted(v, hi_max, "right"))
                out_max = (np.searchsorted(v, lo_max, "left")
                           + n - np.searchsorted(v, hi_min, "right"))
                for mid, lo, hi in (
                        ("iqr_reduction", a3 - b1, b3 - a1),
                        ("relative_median_difference", a2, b2),
                        ("outliers_iqr", out_min, out_max)):
                    rows.append({"group_id": int(gid), "method": m,
                                 "band": b, "metric_id": mid,
                                 "lo": float(lo), "hi": float(hi)})
    return pd.DataFrame(rows)


def check_eval(got: pd.DataFrame, ranks: dict, want: pd.DataFrame,
               ranges: pd.DataFrame) -> bool:
    """Approx-quartile metrics inside ``approx_ranges``; every other
    metric equal to the exact oracle (double-sum tolerance); per group
    the oracle's rank order, where adjacent methods may swap only if
    their exact scores lie within 2% of the group's score range."""
    m = want.merge(got, on=METRIC_KEYS, how="outer", suffixes=("_w", "_g"),
                   indicator=True)
    if len(m) != len(want) or not (m["_merge"] == "both").all():
        return False
    q = m.merge(ranges, on=METRIC_KEYS, how="left")
    approx = q["metric_id"].isin(QUARTILE_METRICS)
    eps = 1e-9 * q["value_w"].abs().clip(lower=1.0)
    if not ((q["value_g"] >= q["lo"] - eps)
            & (q["value_g"] <= q["hi"] + eps))[approx].all():
        return False
    if not np.allclose(q.loc[~approx, "value_g"], q.loc[~approx, "value_w"],
                       rtol=1e-6, atol=1e-9):
        return False
    from terraspark.rank import rank_scores
    if sorted(ranks) != sorted(int(g) for g in want["group_id"].unique()):
        return False
    for gid, ranked in ranks.items():
        exp = rank_scores(want[want["group_id"] == gid][
            ["method", "band", "metric_id", "value"]])
        score = dict(zip(exp["method"], exp["score"]))
        tie = 0.02 * (exp["score"].max() - exp["score"].min())
        order = list(ranked["method"])
        if sorted(order) != sorted(score) or any(
                score[a] < score[b] - tie for a, b in zip(order, order[1:])):
            return False
    return True


# -------------------------------------------------------------- dedup
def expected_clusters(docs: pd.DataFrame, threshold: float, k: int = 5,
                      seeds: int = 4, band: int = 2) -> dict[int, int]:
    """doc_id -> cluster of the dedup chain recomputed in one process:
    per-seed min of md5("<k-char shingle>_<seed>") (hex), LSH buckets of
    ``band`` consecutive seeds, pairs sharing any bucket, unigram-set
    Jaccard rounded to 6 dp >= ``threshold``, then connected components
    labelled by their minimum doc id.  LSH misses near-duplicates with
    some probability, so this -- not the planted chains -- is what the
    engine must return."""
    import hashlib
    sig, words = {}, {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        n = max(len(text) - k + 1, 1)
        sig[int(doc_id)] = [min(hashlib.md5(f"{text[i:i + k]}_{s}".encode())
                                .hexdigest() for i in range(n))
                            for s in range(seeds)]
        words[int(doc_id)] = set(text.split(" "))
    buckets: dict = {}
    for d, m in sig.items():
        for b in range(0, seeds, band):
            buckets.setdefault((b, tuple(m[b:b + band])), []).append(d)
    parent: dict[int, int] = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b:
                    inter = len(words[a] & words[b])
                    jac = inter / (len(words[a]) + len(words[b]) - inter)
                    if round(jac, 6) >= threshold:
                        ra, rb = root(a), root(b)
                        parent[max(ra, rb)] = min(ra, rb)
    return {d: root(d) for d in parent}


def check_clusters(got: pd.DataFrame, docs: pd.DataFrame, threshold: float,
                   chains: list[list[int]]) -> tuple[bool, str]:
    """Engine clusters equal ``expected_clusters`` exactly, keep only each
    cluster's minimum, and no cluster spans two planted chains."""
    want = expected_clusters(docs, threshold)
    have = {int(d): int(c) for d, c in zip(got["doc_id"], got["cluster"])}
    if have != want:
        return False, "clusters != single-process MinHash/LSH/CC"
    if sorted(got.loc[got["keep"], "doc_id"]) != sorted(set(want.values())):
        return False, "keep flags"
    chain_of = {d: i for i, c in enumerate(chains) for d in c}
    for c in set(want.values()):
        if len({chain_of.get(d) for d, r in want.items() if r == c}) != 1:
            return False, "cluster spans planted chains"
    return True, "ok"


# ---------------------------------------------------------- hydrology
D8 = [(0, 0, 1, 1.0), (1, 1, 1, math.sqrt(2.0)), (2, 1, 0, 1.0),
      (3, 1, -1, math.sqrt(2.0)), (4, 0, -1, 1.0),
      (5, -1, -1, math.sqrt(2.0)), (6, -1, 0, 1.0),
      (7, -1, 1, math.sqrt(2.0))]


def _shift(a: np.ndarray, dlat: int, dlon: int, fill) -> np.ndarray:
    """out[r, c] = a[r - dlat, c + dlon] (north is row - 1), else fill."""
    out = np.full_like(a, fill)
    ny, nx = a.shape
    r0, r1 = max(0, dlat), min(ny, ny + dlat)
    c0, c1 = max(0, -dlon), min(nx, nx - dlon)
    out[r0:r1, c0:c1] = a[r0 - dlat:r1 - dlat, c0 + dlon:c1 + dlon]
    return out


def hydro_model(e: np.ndarray, threshold: int = 5) -> dict:
    """Per-cell D8 stack on one grid of cell-mean elevations."""
    ny, nx = e.shape
    drops = np.stack([(e - _shift(e, dla, dlo, np.inf)) / dist
                      for _, dla, dlo, dist in D8])
    d = np.argmax(drops, axis=0)               # ties -> lowest dir
    fdir = np.where(drops.max(axis=0) > 0, d, -1)
    tgt = -np.ones((ny, nx), dtype=np.int64)
    step = np.zeros((ny, nx))
    for k, dla, dlo, dist in D8:
        rr, cc = np.nonzero(fdir == k)
        tgt[rr, cc] = (rr - dla) * nx + (cc + dlo)
        step[rr, cc] = dist
    tgt, step = tgt.ravel(), step.ravel()
    n = ny * nx
    order = np.argsort(-e.ravel(), kind="stable")   # upstream first
    acc = np.ones(n, dtype=np.int64)
    flen = np.zeros(n)
    inflow = np.zeros(n, dtype=np.int64)
    for c in order:
        t = tgt[c]
        if t >= 0:
            acc[t] += acc[c]
            flen[t] = max(flen[t], flen[c] + step[c])
            inflow[t] += 1
    basin = np.arange(n)
    for c in order[::-1]:                       # downstream first
        if tgt[c] >= 0:
            basin[c] = basin[tgt[c]]
    stream = acc >= threshold
    strahler = np.zeros(n, dtype=np.int64)
    best = np.zeros(n, dtype=np.int64)
    mult = np.zeros(n, dtype=np.int64)
    for c in order:
        if not stream[c]:
            continue
        strahler[c] = 1 if best[c] == 0 else best[c] + (mult[c] >= 2)
        t = tgt[c]
        if t >= 0 and stream[t]:
            if strahler[c] > best[t]:
                best[t], mult[t] = strahler[c], 1
            elif strahler[c] == best[t]:
                mult[t] += 1
    return {"flow_dir": fdir.ravel(), "n_inflow": inflow, "acc": acc,
            "basin": basin, "flen": flen, "strahler": strahler,
            "fill_depth": (fill_sinks(e) - e).ravel()}


def fill_sinks(e: np.ndarray) -> np.ndarray:
    """Planchon-Darboux with hydro.fill_sinks' boundary rule: cells with
    fewer than 8 in-grid neighbours stay at their elevation."""
    inside = np.ones_like(e, dtype=bool)
    inside[0, :] = inside[-1, :] = inside[:, 0] = inside[:, -1] = False
    w = np.where(inside, e.max(), e)
    while True:
        mn = np.min([_shift(w, dla, dlo, np.inf) for _, dla, dlo, _ in D8],
                    axis=0)
        new = np.where(inside, np.maximum(e, mn), e)
        if np.array_equal(new, w):
            return w
        w = new


def check_hydro(got: pd.DataFrame, data_dir: str) -> tuple[bool, str]:
    """Engine result rows vs hydro_model on each hill's grid."""
    dem = pd.read_parquet(f"{data_dir}/dem.parquet",
                          columns=["dem_id", "cell", "tile_x", "tile_y"])
    means = np.load(f"{data_dir}/cell_means.npz")
    got = got.merge(dem, on=["dem_id", "cell"], how="left")
    for k in means.files:
        e = means[k]
        want = hydro_model(e)
        g = got[got["dem_id"] == f"dem_{k}"]
        if len(g) != e.size or g["tile_x"].isna().any():
            return False, f"dem_{k}: cell set"
        idx = (g["tile_y"] * e.shape[1] + g["tile_x"]).to_numpy()
        cell_of = np.empty(e.size, dtype=np.int64)
        cell_of[idx] = g["cell"].to_numpy()
        exact = {"flow_dir": g["flow_dir"], "n_inflow": g["n_inflow"],
                 "acc": g["acc"], "basin": g["basin"],
                 "strahler": g["strahler"].fillna(0)}
        for col, vals in exact.items():
            w = want[col][idx]
            if col == "basin":
                w = cell_of[w]
            if not np.array_equal(vals.to_numpy().astype(np.int64), w):
                return False, f"dem_{k}: {col}"
        for col in ("flen", "fill_depth"):
            if not np.allclose(g[col].to_numpy(dtype=float),
                               want[col][idx], rtol=0, atol=2e-6):
                return False, f"dem_{k}: {col}"
    return True, "ok"
