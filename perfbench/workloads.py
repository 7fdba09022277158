"""The benchmark workloads.

Each workload writes its inputs from a seed in ``prepare`` (part of every
timed set-up), computes the references its check needs once in
``reference``, loads what it keeps in the Spark session in ``setup``, runs one pipeline pass through the public calls of karta_spark
in ``run``, and checks the pass output in ``check``.  ``run`` takes an
optional Tracer: with one, each call into a layer gets a span.  After the
timed pass, ``probe`` reads the pass's Spark SQL metrics and runs the
isolated per-layer actions the ledger needs, and returns the pass's
per-layer numbers.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from karta_spark.fixtures import flagship_polys
from karta_spark.functions import cells
from karta_spark.operators import dedup, knn, pip_join
from karta_spark.operators.pip_join import PolygonSpec
from karta_spark.plans import lineage
from karta_spark.raster import sampling, tiles
from karta_spark.sources import images

from perfbench import checks
from perfbench.spans import node_classes, operator_metrics, rows_kept_after_join, run_plan


def write_parts(df: pd.DataFrame, path: str, parts: int, schema=None):
    """Write *df* as *parts* parquet files, so a scan runs *parts* tasks."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), parts)):
        table = pa.Table.from_pandas(df.iloc[chunk], schema=schema,
                                     preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def _span(tr, name, kind="pipeline"):
    return tr.span(name, kind) if tr is not None else nullcontext({})


def _elapsed(rec) -> float:
    return rec["t1"] - rec["t0"]


def _cover_probe(tr, pts, polys, zoom, lon="x", lat="y") -> dict:
    """Cover size, candidates and full-cell candidates of a PIP join, from
    the layer's own cover builder (pip_join.cover_df) joined to the points'
    cells (the same cell_id equi-join the operator plans)."""
    spark = pts.sparkSession
    with tr.span("pip_join.cover_probe", "probe"):
        cover = pip_join.cover_df(spark, polys, zoom).cache()
        cover_rows = cover.count()
        cand, full = (pts.withColumn("cell_id", cells.tile_id_clamped(lon, lat, zoom))
                      .join(F.broadcast(cover), "cell_id")
                      .agg(F.count("*"), F.sum(F.col("full").cast("long"))).first())
        cover.unpersist()
    return {"pip_join.cover_rows": cover_rows, "pip_join.candidates": cand,
            "pip_join.full_hits": full or 0}


def refine_shares(m: dict) -> dict:
    """Refine counts from candidates, hits and full-cell hits: rows in
    boundary cells reach the winding refine; the rest pass outright."""
    refine = m["pip_join.candidates"] - m["pip_join.full_hits"]
    kept = m["pip_join.hits"] - m["pip_join.full_hits"]
    return {"pip_join.refine_rows": refine, "pip_join.refine_kept": kept,
            "pip_join.refine_keep_ratio": kept / refine if refine else 0.0,
            "pip_join.refine_share": (refine / m["pip_join.candidates"]
                                      if m["pip_join.candidates"] else 0.0)}


class TileJoin:
    """Image keys -> lon/lat -> PIP against the flagship rings -> z8 tile ->
    per-(poly_id, tile) counts: bench.flagship_pipeline's plan."""

    name = "tile_join"
    zoom = 8
    # the compiled winding CASE is one wide generated method: passes keep
    # getting faster for ~20 passes while the JIT compiles it; a fixed count
    # puts every run at the same point of that curve
    warmup_passes = 6

    def __init__(self, seed: int, workdir: str, cores: int, n: int = 12_000_000):
        self.n = n
        # 500k keys per task: fewer tasks pay the per-task cost of the wide
        # CASE less often, more would leave a core idle in the last wave
        self.parts = cores * 6
        # disjoint key ranges per seed; keys stay < 2^31 so phash is int64-exact
        self.key_lo = (seed % (2 ** 31 // n - 1)) * n
        self.polys = flagship_polys()

    def prepare(self):
        """The keys are a spark.range: no input to write."""

    def reference(self):
        self.expected = checks.tile_counts_reference(self.key_lo, self.n,
                                                     self.polys, self.zoom)

    def setup(self, spark):
        """The keys are a spark.range: nothing to load."""

    def sizes(self) -> dict:
        return {"images": self.n, "polygons": len(self.polys), "zoom": self.zoom}

    def run(self, spark, tr=None):
        with _span(tr, "cells.construct"):
            keys = spark.range(self.key_lo, self.key_lo + self.n, 1,
                               self.parts).select(
                "id", cells.phash_from_key(F.col("id")).alias("phash"))
            pts = keys.select("id", "phash",
                              cells.lon_from_phash(F.col("phash")).alias("x"),
                              cells.lat_from_phash(F.col("phash")).alias("y"))
        with _span(tr, "pip_join.construct") as c_pip:
            joined = pip_join.point_in_polygon_join(pts, self.polys, zoom=self.zoom)
        with _span(tr, "agg.construct"):
            agg = (joined.withColumn("tile", cells.tile_id(F.col("x"), F.col("y"),
                                                           self.zoom))
                   .groupBy("poly_id", "tile").agg(F.count("*").alias("n")))
        with _span(tr, "pipeline.exec"):
            rows = [(r["poly_id"], r["tile"], r["n"]) for r in agg.collect()]
        self._last = (keys, pts, joined, agg, c_pip)
        return rows

    def check(self, spark, rows) -> list[str]:
        return checks.check_tile_counts(rows, self.expected)

    def probe(self, spark, tr) -> dict:
        keys, pts, joined, agg, c_pip = self._last
        out = {"pip_join.construct_s": _elapsed(c_pip),
               "pip_join.construct_jobs": c_pip["jobs"],
               "pip_join.hits": rows_kept_after_join(agg, "cell_id"),
               **operator_metrics(agg)}
        with tr.span("cells.base", "probe") as base:
            run_plan(keys)
        encoded = pts.withColumn("tile", cells.tile_id(F.col("x"), F.col("y"), self.zoom))
        with tr.span("cells.encoded", "probe") as enc:
            run_plan(encoded)
        with tr.span("pip_join.input", "probe") as pin:
            run_plan(pts)
        with tr.span("pip_join.exec", "probe") as pex:
            run_plan(joined)
        out["cells.encode_s"] = _elapsed(enc) - _elapsed(base)
        out["pip_join.exec_s"] = _elapsed(pex) - _elapsed(pin)
        out.update(_cover_probe(tr, pts, self.polys, self.zoom))
        return out


def _star_ring(rng, cx, cy, r, k):
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, k))
    rad = r * rng.uniform(0.55, 1.0, k)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


class ImageEnrich:
    """Zone (Arrow-arm PIP over 160 zones), k nearest landmarks (broadcast
    strip-kernel kNN) and a bilinear raster sample per image."""

    name = "image_enrich"
    k = 4
    box = (-10.0, 35.0, 30.0, 60.0)  # lon0, lat0, lon1, lat1
    grid_shape = (10, 16)            # zones: one per grid cell, > 96 in total
    raster_shape = (100, 160)
    # every sampled point carries its tile's block through the Arrow pipe,
    # so the block size sets the bytes sent per row
    raster_tile = 16
    zone_seed = 20261017

    def __init__(self, seed: int, workdir: str, cores: int, n: int = 30_000,
                 n_landmarks: int = 2_000, n_sample: int = 200):
        self.seed, self.n, self.cores = seed, n, cores
        self.n_landmarks, self.n_sample = n_landmarks, n_sample
        self.path = os.path.join(workdir, "image_points")
        self.lm_path = os.path.join(workdir, "landmarks")

    def sizes(self) -> dict:
        return {"images": self.n, "zones": len(self.zones),
                "landmarks": self.n_landmarks, "k": self.k,
                "raster": list(self.raster_shape), "raster_tile": self.raster_tile,
                "checked_sample": self.n_sample}

    def _make_inputs(self):
        # the zone layer is the same map in every run (its vertex counts and
        # holes set how much cover and refine work a pass does); the seed
        # draws the images, the landmarks and the raster
        rng = np.random.default_rng(self.zone_seed)
        lon0, lat0, lon1, lat1 = self.box
        gy, gx = self.grid_shape
        cw, ch = (lon1 - lon0) / gx, (lat1 - lat0) / gy
        zones = []
        for iy in range(gy):
            for ix in range(gx):
                cx, cy = lon0 + (ix + 0.5) * cw, lat0 + (iy + 0.5) * ch
                r = 0.48 * min(cw, ch)
                outer = _star_ring(rng, cx, cy, r, int(rng.integers(5, 40)))
                holes = ()
                if rng.random() < 0.25:
                    holes = (_star_ring(rng, cx, cy, 0.2 * r, 6)[::-1],)
                zones.append(PolygonSpec(f"z{iy:02d}{ix:02d}", outer, holes, "lonlat"))
        self.zones = zones
        rng = np.random.default_rng(self.seed)
        x = rng.uniform(lon0, lon1, self.n)
        y = rng.uniform(lat0, lat1, self.n)
        self.points = pd.DataFrame({"id": np.arange(self.n, dtype=np.int64),
                                    "x": x, "y": y})
        self.lm = pd.DataFrame({
            "point_id": np.arange(self.n_landmarks, dtype=np.int64),
            "x": rng.uniform(lon0, lon1, self.n_landmarks),
            "y": rng.uniform(lat0, lat1, self.n_landmarks)})
        ny, nx = self.raster_shape
        margin = 1.0
        self.transform = (lon0 - margin, lat0 - margin,
                          (lon1 - lon0 + 2 * margin) / nx,
                          (lat1 - lat0 + 2 * margin) / ny, 0.0, 0.0)
        yy, xx = np.mgrid[0:ny, 0:nx]
        self.grid = (np.sin(xx / 37.0) * 40.0 + np.cos(yy / 23.0) * 25.0
                     + rng.normal(0.0, 1.0, (ny, nx)))

    def setup(self, spark):
        """The raster is ingested once per session, as a cached tile table."""
        self.landmarks = spark.read.parquet(self.lm_path)
        self.tiles = tiles.grid_to_df(spark, "g", self.grid, self.transform,
                                      tile=self.raster_tile).cache()
        self.tiles.count()

    def prepare(self):
        self._make_inputs()
        write_parts(self.points, self.path, self.cores)
        write_parts(self.lm, self.lm_path, 1)

    def reference(self):
        x, y = self.points["x"].to_numpy(), self.points["y"].to_numpy()
        zone = checks.zone_reference(x, y, self.zones)
        zoned = np.flatnonzero(zone >= 0)
        rng = np.random.default_rng(self.seed + 1)
        sample = np.sort(rng.choice(zoned, size=min(self.n_sample, zoned.size),
                                    replace=False))
        ids, dists = checks.knn_reference(
            x[sample], y[sample], self.lm["point_id"].to_numpy(),
            self.lm["x"].to_numpy(), self.lm["y"].to_numpy(), self.k)
        self.ref = {
            "zone_of": {int(i): self.zones[zone[i]].poly_id for i in zoned},
            "sample_ids": sample.tolist(), "sample_knn_ids": ids,
            "sample_knn_dist": dists,
            "sample_value": checks.bilinear_reference(x[sample], y[sample],
                                                      self.grid, self.transform),
        }

    def run(self, spark, tr=None):
        pts = spark.read.parquet(self.path)
        with _span(tr, "pip_join.construct") as c_pip:
            zoned = pip_join.point_in_polygon_join(pts, self.zones, zoom=None)
        with _span(tr, "sampling.construct") as c_smp:
            sampled = sampling.sample_join(zoned, self.tiles, self.transform).persist()
        try:
            with _span(tr, "knn.construct") as c_knn:
                near = knn.knn_join(
                    sampled.select(F.col("id").alias("query_id"),
                                   F.col("x").alias("qx"), F.col("y").alias("qy")),
                    self.landmarks, self.k, zoom=None)
            enriched_df = sampled.select("id", "poly_id", "value")
            with _span(tr, "pipeline.exec"):
                enriched = enriched_df.toPandas()
            with _span(tr, "knn.exec") as e_knn:
                near_pdf = near.toPandas()
        finally:
            sampled.unpersist()
        self._last = (pts, zoned, sampled, enriched_df, near, len(near_pdf),
                      c_pip, c_smp, c_knn, e_knn)
        return enriched, near_pdf

    def check(self, spark, result) -> list[str]:
        return checks.check_enrich(result[0], result[1], self.ref, self.k)

    def probe(self, spark, tr) -> dict:
        (pts, zoned, sampled, enriched_df, near, n_near,
         c_pip, c_smp, c_knn, e_knn) = self._last
        out = {"pip_join.construct_s": _elapsed(c_pip),
               "pip_join.construct_jobs": c_pip["jobs"],
               "sampling.construct_s": _elapsed(c_smp),
               "sampling.construct_jobs": c_smp["jobs"],
               "knn.construct_s": _elapsed(c_knn),
               "knn.construct_jobs": c_knn["jobs"],
               "knn.exec_s": _elapsed(e_knn),
               "knn.rows_out": n_near,
               # the ring arm ranks candidates with a window; the broadcast
               # strip kernel is one mapInPandas
               "knn.strip_arm": float(not node_classes(near) & {
                   "WindowExec", "WindowGroupLimitExec"}),
               # the kNN plan reads the cache the first collect filled
               **_merge([operator_metrics(enriched_df),
                         operator_metrics(near, into_cache=False)])}
        with tr.span("pip_join.input", "probe") as t0:
            run_plan(pts)
        with tr.span("pip_join.exec", "probe") as t1:
            run_plan(zoned)
        out["pip_join.exec_s"] = _elapsed(t1) - _elapsed(t0)
        out["pip_join.hits"] = rows_kept_after_join(zoned, "cell_id")
        with tr.span("sampling.exec", "probe") as t2:
            run_plan(sampled)
        out["sampling.exec_s"] = _elapsed(t2) - _elapsed(t1)
        out.update(_cover_probe(tr, pts, self.zones, pip_join.auto_zoom(self.zones)))
        return out


class ImageCheckpoint:
    """Read an image+caption parquet table, verify every image (PSNR and
    caption), checkpoint the rows with lineage, then resume the stage.

    A few seeded rows carry a changed caption byte, and a few BMP rows
    corrupted pixel bytes: the check demands that exactly those rows come
    out with caption_ok or psnr_ok false, and every other row verified."""

    name = "image_checkpoint"
    stage = "verified"

    def __init__(self, seed: int, workdir: str, cores: int, n: int = 2_000,
                 n_bad_caption: int = 8, n_bad_pixels: int = 4):
        self.seed, self.n, self.cores = seed, n, cores
        self.n_bad_caption, self.n_bad_pixels = n_bad_caption, n_bad_pixels
        # disjoint image indices per seed
        self.first = (seed % 1000) * 1_000_000
        self.input = os.path.join(workdir, "images")
        self.root = os.path.join(workdir, "ckpt")

    def sizes(self) -> dict:
        return {"images": self.n, "formats": list(images.FORMATS), "pixels": [16, 16],
                "bad_captions": self.n_bad_caption, "bad_pixels": self.n_bad_pixels}

    def prepare(self):
        # synth_images' row generator (PNG/BMP/JPEG by index) over this
        # seed's index range
        rows = [images.make_row(i) for i in range(self.first, self.first + self.n)]
        table = pd.DataFrame(rows, columns=[f.name for f in images.IMAGE_SCHEMA.fields])
        table["bytes"] = table["bytes"].map(bytes)
        rng = np.random.default_rng(self.seed + 2)
        bmp = np.flatnonzero(table["fmt"].to_numpy() == "bmp")
        bad_pix = rng.choice(bmp, self.n_bad_pixels, replace=False)
        rest = np.setdiff1d(np.arange(self.n), bad_pix)
        bad_cap = rng.choice(rest, self.n_bad_caption, replace=False)
        for r in bad_cap:
            c = table.at[r, "caption"]
            table.at[r, "caption"] = c[:-1] + chr(ord(c[-1]) ^ 1)
        for r in bad_pix:
            # move 32 pixel bytes (after the 54-byte header) by 128 each:
            # the image still decodes, at about 20 dB against its reference
            b = bytearray(table.at[r, "bytes"])
            b[54:86] = bytes((v + 128) % 256 for v in b[54:86])
            table.at[r, "bytes"] = bytes(b)
        write_parts(table, self.input, self.cores, pa.schema([
            ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
            ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
            ("phash", pa.int64())]))
        ids = table["image_id"]
        self.ids = set(ids)
        self.bad_caption = set(ids.iloc[bad_cap])
        self.bad_pixels = set(ids.iloc[bad_pix])

    def reference(self):
        """The input ids and the planted ids, recorded by prepare."""

    def setup(self, spark):
        """The image table is a parquet file: nothing to load."""

    def _listing(self):
        out = {}
        for d, _, files in os.walk(os.path.join(self.root, self.stage)):
            for f in files:
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def run(self, spark, tr=None):
        src = spark.read.parquet(self.input)
        with _span(tr, "images.verify_construct") as c_ver:
            verified = images.verify_images(src)
        with _span(tr, "lineage.run_stage") as e_run:
            lineage.run_stage(verified, self.root, self.stage)
        before = self._listing()
        with _span(tr, "lineage.resume") as e_res:
            resumed = lineage.resume_or_run(lambda: verified, self.root, self.stage,
                                            spark=spark)
        wrote = self._listing() != before
        self._last = (src, before, c_ver, e_run, e_res)
        return resumed, wrote

    def check(self, spark, result) -> list[str]:
        resumed, wrote = result
        rows = resumed.select("image_id", "psnr_vs_ref", "caption_ok", "psnr_ok",
                              "verified").toPandas()
        lin = lineage.lineage_table(spark, self.root, self.stage) \
            .agg(F.sum("row_count")).first()[0]
        self.verified_frac = float(rows["verified"].mean()) if len(rows) else 0.0
        self.lineage_rows = int(lin or 0)
        return checks.check_checkpoint(rows, self.ids, self.bad_caption,
                                       self.bad_pixels, self.lineage_rows,
                                       len(rows), wrote)

    def probe(self, spark, tr) -> dict:
        src, files, c_ver, e_run, e_res = self._last
        verified = images.verify_images(src)
        with tr.span("images.verify_exec", "probe") as e_ver:
            run_plan(verified)
        data = sum(size for path, (size, _) in files.items() if "/data/" in path)
        return {"images.verify_construct_s": _elapsed(c_ver),
                "images.verify_exec_s": _elapsed(e_ver),
                "images.verified_frac": self.verified_frac,
                "lineage.run_stage_s": _elapsed(e_run),
                "lineage.overhead_s": _elapsed(e_run) - _elapsed(e_ver),
                "lineage.resume_s": _elapsed(e_res),
                "lineage.resume_jobs": e_res["jobs"],
                "lineage.bytes_written": sum(size for size, _ in files.values()),
                "lineage.ckpt_bytes_per_row": data / self.n,
                "lineage.lineage_rows": self.lineage_rows,
                **operator_metrics(verified)}


class TextDedup:
    """MinHash LSH near-duplicate pairs with exact-Jaccard verify."""

    name = "text_dedup"
    num_perm, bands, shingle, threshold = 64, 8, 6, 0.5

    def __init__(self, seed: int, workdir: str, cores: int, n: int = 5_000,
                 dup_frac: float = 0.02):
        self.seed, self.n, self.cores, self.dup_frac = seed, n, cores, dup_frac
        self.path = os.path.join(workdir, "documents")

    def sizes(self) -> dict:
        return {"documents": self.n, "planted_copies": self.n_copies,
                "num_perm": self.num_perm, "bands": self.bands,
                "shingle": self.shingle, "threshold": self.threshold}

    def prepare(self):
        from tools.gen_sf import VOCAB

        rng = np.random.default_rng(self.seed)
        lens = rng.integers(8, 100, self.n)
        words = rng.choice(VOCAB, int(lens.sum()))
        texts, pos = [], 0
        for ln in lens:
            texts.append(" ".join(words[pos:pos + ln]))
            pos += ln
        # plant exact copies: identical texts collide in every band under
        # any hash family, so the check can demand they are all found
        copies = rng.choice(np.arange(1, self.n), int(self.n * self.dup_frac),
                            replace=False)
        for c in copies:
            texts[c] = texts[int(rng.integers(0, c))]
        self.n_copies = len(copies)
        self.texts = dict(enumerate(texts))
        write_parts(pd.DataFrame({"doc_id": np.arange(self.n, dtype=np.int64),
                                  "text": texts}), self.path, self.cores)

    def reference(self):
        groups: dict = {}
        for i, t in self.texts.items():
            groups.setdefault(t, []).append(i)
        self.must_find = {(a, b) for g in groups.values() if len(g) > 1
                          for x, a in enumerate(g) for b in g[x + 1:]}

    def setup(self, spark):
        """The corpus is a parquet file: nothing to load."""

    def run(self, spark, tr=None):
        docs = spark.read.parquet(self.path)
        with _span(tr, "dedup.construct") as c_dd:
            pairs = dedup.minhash_lsh_pairs(
                docs, "text", "doc_id", num_perm=self.num_perm, bands=self.bands,
                shingle=self.shingle, threshold=self.threshold)
        with _span(tr, "dedup.exec") as e_dd:
            got = pairs.toPandas()
        self._last = (docs, pairs, len(got), c_dd, e_dd)
        return got

    def check(self, spark, got) -> list[str]:
        return checks.check_pairs(
            zip(got["id_a"].tolist(), got["id_b"].tolist(), got["jaccard"].tolist()),
            self.texts, self.shingle, self.threshold, self.must_find)

    def probe(self, spark, tr) -> dict:
        docs, pairs, verified, c_dd, e_dd = self._last
        out = {"dedup.construct_s": _elapsed(c_dd), "dedup.exec_s": _elapsed(e_dd),
               "dedup.verified_pairs": verified, **operator_metrics(pairs)}
        with tr.span("dedup.signatures", "probe") as s:
            run_plan(dedup.minhash_signatures(docs, "text", "doc_id", self.num_perm,
                                              self.shingle))
        out["dedup.signatures_s"] = _elapsed(s)
        with tr.span("dedup.candidates", "probe"):
            cand = dedup.minhash_lsh_pairs(
                docs, "text", "doc_id", num_perm=self.num_perm, bands=self.bands,
                shingle=self.shingle, threshold=self.threshold, verify=False).count()
        out.update({"dedup.candidate_pairs": cand,
                    "dedup.verify_keep_ratio": verified / cand if cand else 0.0})
        return out


class PythonArms:
    """The Python/Arrow arms, one after the other in each pass: the image
    enrichment joins, then the chains that feed them (the image
    verify/checkpoint/resume chain and the document LSH chain)."""

    name = "python_arms"
    # the cold first pass boots the Python workers and runs every layer once
    warmup_passes = 1

    def __init__(self, seed: int, workdir: str, cores: int):
        self.parts = (ImageEnrich(seed, workdir, cores),
                      ImageCheckpoint(seed, workdir, cores),
                      TextDedup(seed, workdir, cores))
        self.n = sum(p.n for p in self.parts)

    def sizes(self) -> dict:
        return {p.name: p.sizes() for p in self.parts}

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def reference(self):
        for p in self.parts:
            p.reference()

    def setup(self, spark):
        for p in self.parts:
            p.setup(spark)

    def run(self, spark, tr=None):
        return [p.run(spark, tr) for p in self.parts]

    def check(self, spark, results) -> list[str]:
        return [f for p, r in zip(self.parts, results) for f in p.check(spark, r)]

    def probe(self, spark, tr) -> dict:
        return _merge(p.probe(spark, tr) for p in self.parts)


def _merge(dicts) -> dict:
    """Union of per-layer dicts; Spark operator metrics that several
    chains report (python.*, arrow.*, ...) add up."""
    out: dict = {}
    for d in dicts:
        for k, v in d.items():
            out[k] = out.get(k, 0) + v
    return out


WORKLOADS = {w.name: w for w in (TileJoin, PythonArms)}
