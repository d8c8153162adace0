"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size, GEN_VERSION) and
is cached on disk under that key, so a repeated seed skips generation.
The engine only ever sees the parquet files written here.

Images and DEMs reuse :mod:`terraspark.fixtures` (``Layout``, the pixel
model, codecs), so :class:`terraspark.reference_model.OracleRun` can check
the corrected output.  Under the image DEM the seed moves the hill centre
and ripple phases, which changes every image through its illumination;
under the hydrology grid it only lifts each hill, so the flow network --
and with it the number of fixpoint rounds -- is the same for every seed.
The corpus seed draws every word; sizes and the planted chains' shape
are fixed.
"""
from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd

GEN_VERSION = 3

IMAGE_FILES = 32      # many-file image table: the scan splits without a
#                       shuffle of the raw bytes, as in bench.py


def _cached(root: str, key: str, build) -> tuple[str, float, bool]:
    """Build ``key`` under ``root`` once; returns (dir, seconds, hit)."""
    out = os.path.join(root, key)
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out, 0.0, True
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.perf_counter()
    build(out)
    with open(marker, "w") as f:
        f.write(key)
    return out, time.perf_counter() - t0, False


def _write_parts(df: pd.DataFrame, path: str, parts: int):
    os.makedirs(path, exist_ok=True)
    parts = max(1, min(parts, len(df)))
    for i in range(parts):
        df.iloc[i::parts].to_parquet(f"{path}/part-{i:05d}.parquet",
                                     index=False)


# ------------------------------------------------------------------ DEM
def dem_grid(hill: int, layout, seed: int, tile: int,
             move_hill: bool = True) -> np.ndarray:
    """``fixtures.dem_grid`` with the seed driving the ripple phases and
    the hill centre (``move_hill``) or only a whole-metre offset of the
    surface: the same Gaussian hill + ripple + 520 m plateau model, hill
    3 the near-flat plain.  ``tile`` pixels per cell edge; the ripple is
    in 64-px-cell units whatever the tile."""
    from terraspark.config import SEED
    h, w = layout.region_h * 64.0, layout.region_w * 64.0
    yy, xx = np.mgrid[0:layout.region_h * tile,
                      0:layout.region_w * tile].astype(np.float64)
    yy, xx = yy * (64.0 / tile), xx * (64.0 / tile)
    rng = np.random.default_rng([seed, GEN_VERSION, hill])
    shape = rng if move_hill else np.random.default_rng([SEED, hill])
    lift = 0.0 if move_hill else float(rng.integers(0, 200))
    if hill == 3:
        p = shape.uniform(0, 2 * np.pi, size=2)
        return (lift + 100.0 + 2.0 * np.sin(xx / 97.0 + p[0])
                * np.cos(yy / 71.0 + p[1])).astype(np.float32)
    cy = h * shape.uniform(0.4, 0.6)
    cx = w * shape.uniform(0.4, 0.6)
    sigma = 0.25 * min(h, w)
    hillz = 500.0 * np.exp(-(((yy - cy) ** 2 + (xx - cx) ** 2)
                             / (2 * sigma ** 2)))
    phase = shape.uniform(0, 2 * np.pi, size=3)
    ripple = (8.0 * np.sin(xx / (17.0 + hill) + phase[0])
              * np.cos(yy / (23.0 + hill) + phase[1])
              + 4.0 * np.sin((xx + yy) / (41.0 + hill) + phase[2]))
    return (lift + np.minimum(100.0 + hillz + ripple, 520.0)) \
        .astype(np.float32)


def dem_rows(grids: dict, layout, tile: int) -> pd.DataFrame:
    """One row per cell in the engine's DEM schema (fixtures layout)."""
    from terraspark import cells
    from terraspark.config import CELL_DEG, CELL_RES
    rows = []
    for k, z in grids.items():
        lat0, lon0 = layout.region_origin(k)
        for ty in range(layout.region_h):
            for tx in range(layout.region_w):
                clat = lat0 - (ty + 0.5) * CELL_DEG
                clon = lon0 + (tx + 0.5) * CELL_DEG
                block = z[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile]
                rows.append({
                    "dem_id": f"dem_{k}",
                    "cell": int(cells.encode(clat, clon, CELL_RES)),
                    "tile_x": tx, "tile_y": ty, "lat": clat, "lon": clon,
                    "elev": np.ascontiguousarray(block, "<f4").tobytes()})
    return pd.DataFrame(rows)


# --------------------------------------------------------------- images
def image_inputs(root: str, seed: int, n_images: int):
    """images/scenes/dem/aoi parquet for ``n_images`` fixture-layout
    images over a seeded DEM.  Returns (dir, gen_seconds, cache_hit)."""
    def build(out):
        from terraspark import codecs
        from terraspark.config import (BANDS, DEFAULT_PARAMS, IMG_H, IMG_W,
                                       TILE)
        from terraspark.fixtures import (HILLS, Layout, caption_of,
                                         dem_features,
                                         image_fmt, image_pixels)
        layout = Layout(n_images)
        grids = {k: dem_grid(k, layout, seed, TILE) for k in range(HILLS)}
        lum = {k: dem_features(grids[k], DEFAULT_PARAMS)[2]
               for k in range(HILLS)}
        imgs, scenes = [], []
        for i in range(n_images):
            fmt = image_fmt(i)
            px = image_pixels(i, layout, lum[i % HILLS], DEFAULT_PARAMS,
                              fmt=fmt)
            data = codecs.encode(px, fmt)
            lat0, lon0 = layout.image_origin(i)
            iid = f"img_{i:06d}"
            imgs.append({"image_id": iid, "bytes": data, "w": IMG_W,
                         "h": IMG_H, "fmt": fmt, "caption": caption_of(i),
                         "phash": codecs.dhash64(codecs.decode(
                             data, fmt, BANDS, IMG_H, IMG_W))})
            scenes.append({"image_id": iid, "lat0": lat0, "lon0": lon0,
                           "hill": i % HILLS})
        _write_parts(pd.DataFrame(imgs), f"{out}/images.parquet",
                     IMAGE_FILES)
        pd.DataFrame(scenes).to_parquet(f"{out}/scenes.parquet", index=False)
        dem = dem_rows(grids, layout, TILE)
        _write_parts(dem, f"{out}/dem.parquet", max(1, len(dem) // 64))
        _aoi(layout).to_parquet(f"{out}/aoi.parquet", index=False)
        np.savez(f"{out}/grids.npz", **{str(k): g for k, g in grids.items()})
    return _cached(root, f"images_s{seed}_n{n_images}_v{GEN_VERSION}", build)


def _aoi(layout) -> pd.DataFrame:
    """Two classification zones over hill 0's region, the north and south
    halves of cell columns 1-2: evaluation covers 8 tiles of image 0 (and
    of every later hill-0 image, all stacked on the same cells) in two AOI
    groups."""
    from terraspark import cells
    from terraspark.config import CELL_DEG, CELL_RES
    lat0, lon0 = layout.region_origin(0)
    west, east = lon0 + CELL_DEG, lon0 + 3 * CELL_DEG
    mid = lat0 - (layout.region_h // 2) * CELL_DEG
    rows = []
    for aoi_id, (top, bottom) in enumerate(
            ((lat0, mid), (mid, lat0 - layout.region_h * CELL_DEG)), 1):
        wkt = (f"POLYGON(({west} {bottom}, {east} {bottom}, {east} {top}, "
               f"{west} {top}, {west} {bottom}))")
        rows.append({"aoi_id": aoi_id, "name": f"zone_{aoi_id}",
                     "polygon": wkt, "cells": [
                         int(c) for c in cells.cover_wkt(wkt, CELL_RES)]})
    return pd.DataFrame(rows)


def load_oracle_inputs(data_dir: str):
    """(images, scenes, grids, aoi) pandas frames for OracleRun."""
    images = pd.read_parquet(f"{data_dir}/images.parquet") \
        .sort_values("image_id").reset_index(drop=True)
    scenes = pd.read_parquet(f"{data_dir}/scenes.parquet")
    z = np.load(f"{data_dir}/grids.npz")
    grids = {int(k): z[k] for k in z.files}
    aoi = pd.read_parquet(f"{data_dir}/aoi.parquet")
    return images, scenes, grids, aoi


# ------------------------------------------------------------ hydrology
HYDRO_TILE = 16       # DEM pixels per cell edge on the hydrology grid: the
#                       stack reads only per-cell means, so a narrower blob
#                       keeps input I/O from masking the fixpoint loops


def hydro_inputs(root: str, seed: int, layout_images: int):
    """DEM table over ``Layout(layout_images)`` regions (4 hills) with
    HYDRO_TILE-px cells.  The seed lifts each hill by whole metres but
    keeps its shape, so every seed has the same flow network and the
    fixpoint loops run the same number of rounds.  Returns (dir, gen_seconds, cache_hit);
    cell_means.npz holds each hill's per-cell mean elevation grid,
    reduced exactly as hydro.cell_elevation does, for the numpy oracle."""
    def build(out):
        from terraspark.fixtures import HILLS, Layout
        layout = Layout(layout_images)
        grids = {k: dem_grid(k, layout, seed, HYDRO_TILE, move_hill=False)
                 for k in range(HILLS)}
        _write_parts(dem_rows(grids, layout, HYDRO_TILE),
                     f"{out}/dem.parquet", 16)
        np.savez(f"{out}/cell_means.npz",
                 **{str(k): cell_means(g, HYDRO_TILE)
                    for k, g in grids.items()})
    return _cached(root, f"hydro_s{seed}_l{layout_images}_v{GEN_VERSION}",
                   build)


def cell_means(z: np.ndarray, tile: int) -> np.ndarray:
    """(rows, cols) float64 cell means: each cell's float32 block widened
    and reduced along one contiguous axis, the cell_elevation recipe."""
    ny, nx = z.shape[0] // tile, z.shape[1] // tile
    blocks = z.reshape(ny, tile, nx, tile).transpose(0, 2, 1, 3) \
        .reshape(ny * nx, tile * tile)
    return np.ascontiguousarray(blocks).astype(np.float64) \
        .mean(axis=1).reshape(ny, nx)


# --------------------------------------------------------------- corpus
CHAIN_LEN = 3         # documents per planted near-dup chain
CHAIN_SHARE = 0.30    # share of all documents that sit in a planted chain
DOC_WORDS = 240       # words per document
ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _words(rng, n: int) -> list[str]:
    """``n`` random lowercase words of 3-9 letters: high entropy, so
    shingles almost never repeat across documents."""
    lens = rng.integers(3, 10, size=n)
    letters = ALPHABET[rng.integers(0, 26, size=int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append("".join(letters[pos:pos + k]))
        pos += k
    return out


def corpus_inputs(root: str, seed: int, n_docs: int):
    """Documents parquet (doc_id, text) with planted near-dup chains.

    A chain starts from a fresh random document; each next member swaps
    one word of the previous member for a fresh word, so every pair in a
    chain has unigram Jaccard >= (W-2)/(W+2) > 0.95 while unrelated
    documents share essentially nothing.  doc ids are shuffled so chains
    are not contiguous.  chains.json lists every chain (sorted ids)."""
    def build(out):
        rng = np.random.default_rng([seed, GEN_VERSION, 7])
        n_chains = int(n_docs * CHAIN_SHARE) // CHAIN_LEN
        n_single = n_docs - n_chains * CHAIN_LEN
        texts, chains = [], []
        for _ in range(n_chains):
            words = _words(rng, DOC_WORDS)
            members = []
            for j in range(CHAIN_LEN):
                if j:
                    words = list(words)
                    words[int(rng.integers(0, DOC_WORDS))] = \
                        _words(rng, 1)[0]
                members.append(len(texts))
                texts.append(" ".join(words))
            chains.append(members)
        for _ in range(n_single):
            texts.append(" ".join(_words(rng, DOC_WORDS)))
        ids = rng.permutation(len(texts)).astype(np.int64) + 1
        docs = pd.DataFrame({"doc_id": ids, "text": texts})
        _write_parts(docs.sort_values("doc_id"), f"{out}/docs.parquet", 16)
        with open(f"{out}/chains.json", "w") as f:
            json.dump(sorted(sorted(int(ids[m]) for m in c)
                             for c in chains), f)
    return _cached(root, f"corpus_s{seed}_n{n_docs}_v{GEN_VERSION}", build)
