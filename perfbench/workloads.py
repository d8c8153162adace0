"""The benchmark workloads.

Each workload generates its seeded input (``prepare``), runs one
closed-loop operation (``iteration``: construction plus forcing action of every
public engine call, from reading the input parquet to a hash-sunk
result) and checks every iteration's result against an oracle outside
the timed region (``verify``).  One code path serves both modes: under
``NullTracer`` the spans and the per-layer forcing disappear and the plan
is the engine's own; under ``Tracer`` every layer call runs in its own
job group and its output is pinned and hash-sunk before the next layer
reads it.

The two workloads touch disjoint engine layers, so a change to one side
predicts "no change" on the other:

* ``tile_eval``: the paper's image path -- topographic correction with
  all 11 methods, then multi-criteria evaluation and ranking;
* ``hydro_dedup``: the driver-bound iterative operators -- the DEM
  hydrology fixpoint stack, then the MinHash/LSH near-dup chain ending in
  connected components.
"""
from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import functions as F

import inputs
import oracles
from layertrace import hash_sink

CORRECTED_KEYS = "image_id, caption, band, tile_x, tile_y, cell, method"


class TileEval:
    """Correction of ``n_images`` fixture-layout images (bench.py's hash
    sink over the corrected tiles), then evaluation of originals +
    corrected tiles per AOI group with approx quartiles, then ranking."""
    name = "tile_eval"
    n_images = 8

    def __init__(self, work_dir: str, seed: int):
        self.work_dir, self.seed = work_dir, seed
        self.last = None

    def prepare(self):
        self.dir, gen_s, hit = inputs.image_inputs(
            self.work_dir, self.seed, self.n_images)
        return gen_s, hit

    def result_rows(self) -> int:
        """Corrected tiles per iteration."""
        from terraspark.config import METHODS
        return self.n_images * 4 * 16 * len(METHODS)

    def _release(self):
        if self.last is not None:
            for df in self.last["kept"]:
                df.unpersist()
            self.last["eng"].unpersist()
            self.last = None

    def _keep(self, tr, df):
        """Materialize a table read more than once: pinned and hash-sunk
        in its own span when traced, ``persist`` as a caller of the engine
        would otherwise."""
        if tr.traced:
            return tr.force(df)
        self.last["kept"].append(df.persist())
        return df

    def iteration(self, spark, tr, sample=False):
        """One operation; ``sample`` runs it on image 0 with one method
        (the warm-up slice: the same plans on a fraction of the data)."""
        from terraspark import corrections, joins, tiling
        from terraspark import metrics as tmetrics
        from terraspark import rank as trank
        from terraspark.config import METHODS
        from terraspark.pipeline import TopoEngine
        self._release()
        images = spark.read.parquet(f"{self.dir}/images.parquet")
        if sample:
            images = images.where(F.col("image_id") == "img_000000")
        scenes = spark.read.parquet(f"{self.dir}/scenes.parquet")
        dem_df = spark.read.parquet(f"{self.dir}/dem.parquet")
        eng = TopoEngine(spark)
        self.last = {"eng": eng, "kept": []}
        # the pinned, aspect-bearing feature table first, so joined() and
        # the luminance join of the corrected tiles read the same table
        # whatever the call order
        with tr.layer("dem.derive_features"):
            feats = tr.force(eng.dem_features(dem_df,
                                              persist=not tr.traced))
        if tr.traced:
            with tr.layer("tiling.tile_images"):
                tiles = tr.force(tiling.tile_images(
                    images, scenes, eng.tile, eng.cell_res, eng.bands))
            with tr.layer("corrections.join_dem"):
                j = tr.force(corrections.join_dem(tiles, feats,
                                                  eng.broadcast_dem))
        else:
            j = eng.joined(images, scenes, dem_df)
        with tr.layer("corrections.band_stats_df"):
            sc = tr.force(eng.scalars_df(j))
        with tr.layer("corrections.apply_corrections"):
            corrected = corrections.apply_corrections(
                j, sc, METHODS[:1] if sample else METHODS, eng.params,
                eng.tile)
            corrected = self._keep(tr, corrected)
            row = corrected.agg(
                F.count("*"), F.sum(F.crc32("px")),
                F.expr(f"bit_xor(xxhash64({CORRECTED_KEYS}))")).collect()[0]
        self.last["corrected"] = corrected

        cols = ["image_id", "band", "tile_x", "tile_y", "cell", "method",
                "px", "lum_px"]
        orig = j.select(*cols[:5], F.lit(tmetrics.ORIG_KEY).alias("method"),
                        "px", "lum_px")
        with tr.layer("corrections.join_dem"):
            corr = tr.force(corrections.join_dem(
                corrected.select(*cols[:7]), feats).select(*cols))
        with tr.layer("joins.aoi_containment_join"):
            grouped = tr.force(joins.aoi_containment_join(
                orig.unionByName(corr),
                spark.read.parquet(f"{self.dir}/aoi.parquet")))
        with tr.layer("metrics.explode_pixels"):
            # evaluate_metrics reads its input more than once
            pixels = self._keep(tr, tmetrics.explode_pixels(grouped))
        with tr.layer("metrics.evaluate_metrics"):
            met = tmetrics.evaluate_metrics(pixels, approx=True).toPandas()
        with tr.layer("rank.rank_scores"):
            ranks = {int(g): trank.rank_scores(
                m[["method", "band", "metric_id", "value"]])
                for g, m in met.groupby("group_id")}
        return (int(row[0]), int(row[1]), int(row[2])), met, ranks

    def verify(self, spark, sinks):
        """Once: every (image, band, method) valid count and mean against
        OracleRun.  Every iteration: the exact corrected-tile count, the
        first iteration's tile hash, and metrics and rank order per
        oracles.check_eval against OracleRun.expected_metrics (approx
        quartiles and double sums may differ in the last bits between
        iterations, so each one is checked)."""
        from terraspark.pipeline import correction_summary
        from terraspark.reference_model import OracleRun
        images, scenes, grids, aoi = inputs.load_oracle_inputs(self.dir)
        oracle = OracleRun(self.n_images, images, scenes, grids, aoi)
        got = correction_summary(self.last["corrected"]).toPandas()
        self._release()
        if not oracles.same_summary(got, oracle.expected_correction_summary()):
            return 0, "correction summary vs oracle"
        want = oracle.expected_metrics()
        ranges = oracles.approx_ranges(oracle)
        good = sum(tile == sinks[0][0] and tile[0] == self.result_rows()
                   and oracles.check_eval(met, ranks, want, ranges)
                   for tile, met, ranks in sinks)
        return good, "ok" if good == len(sinks) else "tiles/metrics/rank"


class HydroDedup:
    """jobs/hydro.py --derived's operator stack on a seeded DEM grid, then
    jobs/dedup.py's chain with char-shingle MinHash on a seeded
    high-entropy corpus with planted near-dup chains."""
    name = "hydro_dedup"
    layout_images = 8           # DEM regions of fixtures.Layout(8)
    n_docs = 300
    threshold = 0.95

    def __init__(self, work_dir: str, seed: int):
        self.work_dir, self.seed = work_dir, seed
        self.last = None

    def prepare(self):
        self.hydro_dir, g1, h1 = inputs.hydro_inputs(
            self.work_dir, self.seed, self.layout_images)
        self.docs_dir, g2, h2 = inputs.corpus_inputs(
            self.work_dir, self.seed, self.n_docs)
        return g1 + g2, h1 and h2

    def cells(self) -> int:
        from terraspark.fixtures import HILLS, Layout
        lay = Layout(self.layout_images)
        return HILLS * lay.region_w * lay.region_h

    def result_rows(self) -> int:
        """DEM cells + documents per iteration."""
        return self.cells() + self.n_docs

    def iteration(self, spark, tr, sample=False):
        """One operation; ``sample`` runs it on a 3 x 3-cell corner of one
        hill and 40 documents (the warm-up slice: same plans, a few
        rounds)."""
        return self._hydro(spark, tr, sample), self._dedup(spark, tr, sample)

    def _hydro(self, spark, tr, sample):
        from terraspark import hydro
        key = ["dem_id", "cell"]
        dem = spark.read.parquet(f"{self.hydro_dir}/dem.parquet")
        if sample:
            dem = dem.where((F.col("dem_id") == "dem_0")
                            & (F.col("tile_x") < 3) & (F.col("tile_y") < 3))
        with tr.layer("hydro.cell_elevation"):
            elev = tr.pin(hydro.cell_elevation(dem, inputs.HYDRO_TILE))
        with tr.layer("hydro.flow_direction"):
            flow = tr.pin(hydro.flow_direction(elev))
        with tr.layer("hydro.flow_accumulation"):
            acc = tr.pin(hydro.flow_accumulation(flow))
        with tr.layer("hydro.watershed"):
            basins = tr.force(hydro.watershed(flow))
        with tr.layer("hydro.ruggedness"):
            tri = tr.force(hydro.ruggedness(elev))
        with tr.layer("hydro.flow_length"):
            flen = tr.force(hydro.flow_length(flow))
        with tr.layer("hydro.strahler"):
            order = tr.force(hydro.strahler(flow, acc, threshold=5)
                             .select("dem_id", "cell", "strahler"))
        with tr.layer("hydro.fill_sinks"):
            fill = tr.force(hydro.fill_sinks(elev)
                            .select("dem_id", "cell", "fill_depth"))
        result = (flow.join(acc, key).join(basins, key)
                  .join(tri, key, "left").join(flen, key, "left")
                  .join(order, key, "left").join(fill, key, "left"))
        self.last = {"hydro": result}
        return hash_sink(result)

    def _dedup(self, spark, tr, sample):
        from terraspark.datapipe import dedup
        docs = spark.read.parquet(f"{self.docs_dir}/docs.parquet") \
            .select("doc_id", "text")
        if sample:
            docs = docs.where(F.col("doc_id") <= 40)
        with tr.layer("datapipe.dedup.minhash_shingle_signature"):
            sig = tr.force(dedup.minhash_shingle_signature(docs))
        with tr.layer("datapipe.dedup.candidate_pairs"):
            cand = tr.force(dedup.candidate_pairs(dedup.lsh_buckets(sig)))
        with tr.layer("datapipe.dedup.jaccard_pairs"):
            verified = tr.force(
                dedup.jaccard_pairs(docs, cand)
                .where(F.col("jaccard") >= self.threshold)
                .select("doc_a", "doc_b"))
        with tr.layer("datapipe.dedup.dedup_clusters"):
            clusters = dedup.dedup_clusters(verified)
            out = hash_sink(clusters)
        self.last["clusters"] = clusters
        return out

    def verify(self, spark, sinks):
        """Every iteration: the exact cell count and the first
        iteration's hashes.  Once: every cell against the numpy D8 model
        (oracles.check_hydro), and the clusters against the chain
        recomputed in one process (oracles.check_clusters)."""
        ok, detail = oracles.check_hydro(self.last["hydro"].toPandas(),
                                         self.hydro_dir)
        if ok:
            with open(f"{self.docs_dir}/chains.json") as f:
                chains = json.load(f)
            ok, detail = oracles.check_clusters(
                self.last["clusters"].toPandas(),
                pd.read_parquet(f"{self.docs_dir}/docs.parquet"),
                self.threshold, chains)
        self.last = None
        good = sum(s == sinks[0] and s[0][0] == self.cells() for s in sinks)
        return (good if ok else 0), detail


WORKLOADS = {w.name: w for w in (TileEval, HydroDedup)}
