"""The benchmark's two workloads.

Each workload turns ``seed`` into input tables on disk, builds whatever
layer the program builds once, and offers four op kinds (``op1`` to
``op4``) that call the package's public functions.  Every op's output is checked
against an answer computed by ``oracle`` from the generated inputs only.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import oracle

from rosreestr_xml_to_gis_converter_spark.index import grid
from rosreestr_xml_to_gis_converter_spark.operators import dedupe, imaging_ops, knn
from rosreestr_xml_to_gis_converter_spark.operators import spatial_join as sj
from rosreestr_xml_to_gis_converter_spark import pipeline
from rosreestr_xml_to_gis_converter_spark.sources import synth_xml
from rosreestr_xml_to_gis_converter_spark import synth

BOX = synth.TESTDATA_BOX
JOIN_RES = 12


@dataclass
class Outcome:
    """What one op produced: work items for its throughput, a check run
    after the timed region (returns "" or what mismatched), and named
    sub-timings (seconds) inside the op."""

    items: float
    verify: Callable[[], str]
    parts: dict = field(default_factory=dict)


def write_parquet(path: str, table: pa.Table, files: int) -> None:
    """A parquet table as ``files`` files of one row group each.  Spark
    plans a small file as one scan task whatever its row groups, so the
    rows are split across files for the scan to use every core."""
    os.makedirs(path)
    step = max(1, math.ceil(table.num_rows / files))
    for i, start in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(start, step), os.path.join(path, f"part-{i:05d}.parquet"))


@contextlib.contextmanager
def conf(spark: SparkSession, key: str, value: str):
    """A SQL setting changed for the duration of a block."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def images_table(ids: np.ndarray, phash: np.ndarray) -> pa.Table:
    """An image table in the input_hint shape without payload bytes."""
    n = len(ids)
    return pa.table(
        {
            "image_id": [f"img-{i:012d}" for i in ids],
            "bytes": pa.nulls(n, pa.binary()),
            "w": np.full(n, 64, np.int32),
            "h": np.full(n, 64, np.int32),
            "fmt": ["png"] * n,
            "caption": [f"parcel photo {i}" for i in ids],
            "phash": phash.astype(np.int64),
        }
    )


def phash_at(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Inverse of the geotag rule: the phash whose point is (lon, lat)."""
    lo = np.floor((lon - BOX.lon0) / BOX.dlon * 4294967296.0).astype(np.uint64)
    hi = np.floor((lat - BOX.lat0) / BOX.dlat * 4294967296.0).astype(np.uint64)
    return ((hi << np.uint64(32)) | lo).view(np.int64)


def centroids_pdf(parcels) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "cad_number": [cad for cad, _ in parcels],
            "clon": [float(r[0][:-1, 0].mean()) for _, r in parcels],
            "clat": [float(r[0][:-1, 1].mean()) for _, r in parcels],
        }
    )


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()  # op1, op2, ...
    # ops of each kind run before timing starts: the first ops of a kind
    # pay JIT, codegen and Python worker imports, and get faster for a few
    # calls.  A kind with no warm-up op has its first op timed cold, and
    # left out of its median when the kind has others.
    warmup: dict[str, int] = {}
    # the op kinds of one pass of the measured loop, in order (``kinds``
    # if empty)
    schedule: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, seed: int, nproc: int):
        self.spark = spark
        self.seed = seed
        self.nproc = nproc
        self.n_files = 4 * nproc

    def make_inputs(self, in_dir: str) -> None:
        """Generate the inputs from the seed and write them under ``in_dir``."""
        raise NotImplementedError

    def build(self) -> dict:
        """Build what the program builds once per input set (called several
        times; the median counts in ``setup_s``); returns named seconds."""
        return {}

    def prepare_oracle(self) -> None:
        """Untimed: compute the expected answers from the inputs."""

    def run(self, kind: str, op_dir: str) -> Outcome:
        raise NotImplementedError

    def sizes(self) -> dict:
        return {}

    def properties(self) -> dict:
        return {}

    def throughputs(self, med: dict) -> dict:
        """Named work-per-second figures from the median op of each kind
        (``med[kind]`` is that op's seconds, items and parts)."""
        return {}


class GeoJoin(Workload):
    """The read path on one seeded ``gen_parcels`` layer: a broadcast
    join of uniform images against a prepared cover, gate-open grid kNN
    over the parcel centroids, and a shuffled geometry-on-rows join (no
    broadcast) of images half packed into one boundary cell, unsalted
    and salted."""

    name = "geo_join"
    kinds = ("join", "knn", "unsalted", "salted")
    # the first op of a kind pays JIT, codegen and worker imports (a join
    # 5 s, then 1.3-1.6 s), and the first op after an op of another kind
    # is 20-100 % slower than the next ones (join 1.8, then 1.3 s; kNN 2.1,
    # then 1.1 s), so a pass runs each kind four times in a row and the
    # first of the four is left out of the medians
    warmup = {"join": 1, "knn": 1, "unsalted": 1, "salted": 1}
    schedule = tuple(k for k in ("join", "knn", "unsalted", "salted") for _ in range(4))
    # op sizes: a join op costs ~0.85 s of fixed per-query work (four
    # jobs, Python worker round trips) plus ~0.1 s per 100k images on 4
    # cores, and a kNN op ~0.6 s plus ~0.045 s per 1000 images, so these
    # sizes make the per-image work 25-30 % of an op; work would dominate
    # only from ~1M images, which the run's time budget cannot carry
    n_images = 300_000
    n_skewed = 150_000
    n_parcels = 300
    n_knn = 6_000
    k = 3
    knn_res = 10
    knn_disk = 2
    # share of kNN images whose grid disk holds fewer than k centroids:
    # knn_grid ranks the whole layer for them, so this share sets most of
    # a kNN op's work; uniform images give 0.23-0.30 with the seed
    frontier_share = 0.25
    hot_share = 0.5

    def make_inputs(self, in_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.parcels = synth.gen_parcels(self.seed, self.n_parcels)
        self.phash = rng.integers(0, 2**63 - 1, size=self.n_images, dtype=np.int64)
        self.images = self._write_images(in_dir, "images", self.phash)
        self.cen_pdf = centroids_pdf(self.parcels)
        self.centroids = self.spark.createDataFrame(self.cen_pdf)
        self.knn_phash = self._knn_points(rng)
        self.knn_images = self._write_images(in_dir, "knn_images", self.knn_phash)
        self.skew_phash = self._skewed(rng)
        self.skewed = self._write_images(in_dir, "skewed", self.skew_phash)

    def build(self) -> dict:
        t0 = time.perf_counter()
        self.cover = sj.build_parcel_cover(self.spark, self.parcels, JOIN_RES)
        t1 = time.perf_counter()
        self.prepared = sj.prepare_cover(self.cover)
        return {"cover_s": t1 - t0, "prepare_s": time.perf_counter() - t1}

    def _write_images(self, in_dir: str, name: str, phash: np.ndarray):
        path = os.path.join(in_dir, f"{name}.parquet")
        write_parquet(path, images_table(np.arange(len(phash)), phash), self.n_files)
        return self.spark.read.parquet(path)

    def _knn_points(self, rng: np.random.Generator) -> np.ndarray:
        """Uniform kNN images, drawn so that exactly ``frontier_share`` of
        them fall back to the whole layer."""
        pool = rng.integers(0, 2**63 - 1, size=4 * self.n_knn, dtype=np.int64)
        lon, lat = oracle.lon_lat(pool, BOX)
        clon, clat = self.cen_pdf["clon"].to_numpy(), self.cen_pdf["clat"].to_numpy()
        near = oracle.disk_candidates(lon, lat, clon, clat, self.k, self.knn_res, self.knn_disk)
        front = near.sum(axis=1) == len(clon)
        n_front = round(self.n_knn * self.frontier_share)
        take = np.zeros(len(pool), bool)
        take[np.flatnonzero(front)[:n_front]] = True
        take[np.flatnonzero(~front)[: self.n_knn - n_front]] = True
        if take.sum() != self.n_knn:
            raise ValueError("too few frontier or inner points in the kNN pool")
        return pool[take]

    def _skewed(self, rng: np.random.Generator) -> np.ndarray:
        """Uniform images with ``hot_share`` of them moved into one hot
        cell (``_hot_cell``)."""
        phash = rng.integers(0, 2**63 - 1, size=self.n_skewed, dtype=np.int64)
        self.hot_cell = self._hot_cell()
        lon0, lat0, lon1, lat1 = (float(v) for v in grid.cell_to_bounds(self.hot_cell))
        hot = rng.random(self.n_skewed) < self.hot_share
        n = int(hot.sum())
        eps_lon, eps_lat = (lon1 - lon0) * 1e-6, (lat1 - lat0) * 1e-6
        lon = rng.uniform(lon0 + eps_lon, lon1 - eps_lon, n)
        lat = rng.uniform(lat0 + eps_lat, lat1 - eps_lat, n)
        phash[hot] = phash_at(lon, lat)
        return phash

    def _hot_cell(self) -> int:
        """A cell on the straight west edge of a parcel that no other
        parcel's bounding box reaches: each image in it is a boundary
        candidate of that one parcel, so the hot cell's work per image is
        the same whatever the seed's parcel layout."""
        boxes = np.array([
            [r[0][:, 0].min(), r[0][:, 1].min(), r[0][:, 0].max(), r[0][:, 1].max()] for _, r in self.parcels
        ])
        for j, (x0, y0, _, y1) in enumerate(boxes):
            if j % 4 == 3:  # gen_parcels' triangles have no straight west edge
                continue
            for y in np.linspace(y0, y1, 9)[1:-1]:
                cell = int(grid.latlng_to_cell(y, x0, JOIN_RES))
                c0, c1, c2, c3 = (float(v) for v in grid.cell_to_bounds(cell))
                reach = (boxes[:, 0] <= c2) & (boxes[:, 2] >= c0) & (boxes[:, 1] <= c3) & (boxes[:, 3] >= c1)
                if reach.sum() == 1:
                    return cell
        raise ValueError("no parcel edge cell that only one parcel reaches")

    def prepare_oracle(self) -> None:
        self.lon, self.lat = oracle.lon_lat(self.phash, BOX)
        img, par = oracle.containment_pairs(self.lon, self.lat, self.parcels)
        self.want_pairs = (len(img), oracle.pair_hash(img, par))
        slon, slat = oracle.lon_lat(self.skew_phash, BOX)
        img, par = oracle.containment_pairs(slon, slat, self.parcels)
        self.want_skew_pairs = (len(img), oracle.pair_hash(img, par))
        self.skew_lon, self.skew_lat = slon, slat

        lon, lat = oracle.lon_lat(self.knn_phash, BOX)
        clon, clat = self.cen_pdf["clon"].to_numpy(), self.cen_pdf["clat"].to_numpy()
        cads = list(self.cen_pdf["cad_number"])
        # knn_grid ranks the centroids of the point's grid disk (the
        # whole layer when the disk holds fewer than k): exact over that
        # set, and exactly the true kNN only where the disk reaches it
        allowed = oracle.disk_candidates(lon, lat, clon, clat, self.k, self.knn_res, self.knn_disk)
        order, dist = oracle.knn_brute(lon, lat, clon, clat, cads, self.k, allowed)
        true_order, _ = oracle.knn_brute(lon, lat, clon, clat, cads, self.k)
        self.knn_true_share = float((order == true_order).all(axis=1).mean())
        self.frontier_share = float((allowed.sum(axis=1) == len(cads)).mean())
        self.want_knn = pd.DataFrame({
            "image_id": np.repeat([f"img-{i:012d}" for i in range(self.n_knn)], self.k),
            "cad_number": np.array(cads)[order].ravel(),
            "dist": dist.ravel(),
        })

    def run(self, kind: str, op_dir: str) -> Outcome:
        if kind == "join":
            return self._join_outcome(sj.spatial_join(self.images, self.prepared, BOX), "want_pairs", self.n_images)
        if kind == "knn":
            out = knn.knn_grid(
                self.knn_images, self.centroids, BOX, k=self.k, res=self.knn_res,
                disk=self.knn_disk, layer_fallback=True,
            ).toPandas()
            return Outcome(self.n_knn, lambda: self._check_knn(out))
        # no broadcast joins at all: the cover goes through the exchange
        salt = self.nproc if kind == "salted" else None
        with conf(self.spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            joined = sj.spatial_join(self.skewed, self.cover, BOX, broadcast_cover=False, salt=salt)
            return self._join_outcome(joined, "want_skew_pairs", self.n_skewed)

    def _join_outcome(self, joined, want: str, n_images: int) -> Outcome:
        """Pair count and order-free pair hash, checked against the
        oracle's (attribute ``want``, computed after the warm-up).  The
        op's items are its input images: the pairs per image depend on
        the seed's parcel shapes far more than the op's time does."""
        row = joined.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(oracle.pair_hash_col(F.col("image_id"), F.col("cad_number"))), F.lit(0)).alias("h"),
        ).first()
        got = (int(row["n"]), int(row["h"]))
        return Outcome(
            n_images, lambda: "" if got == getattr(self, want) else f"pairs, hash {got} != {getattr(self, want)}",
            parts={"pairs": got[0]},
        )

    def _check_knn(self, out: pd.DataFrame) -> str:
        if len(out) != self.n_knn * self.k:
            return f"knn rows {len(out)} != {self.n_knn * self.k}"
        out = out.sort_values(["image_id", "rank"])
        want = self.want_knn
        bad = (out["image_id"].to_numpy() != want["image_id"].to_numpy()) | (
            out["cad_number"].to_numpy() != want["cad_number"].to_numpy()
        ) | ~np.isclose(out["dist"].to_numpy(), want["dist"].to_numpy(), rtol=1e-12, atol=0)
        return f"knn mismatch for {out['image_id'].to_numpy()[bad][0]}" if bad.any() else ""

    def _candidate_shares(self, lon: np.ndarray, lat: np.ndarray) -> dict:
        """Candidates (image, cover cell) split into full-cell and
        boundary ones, and the share of images in the hottest cell."""
        cells = pd.DataFrame({"cell": grid.latlng_to_cell(lat, lon, JOIN_RES)})
        cand = cells.merge(self.cover_pdf, on="cell")
        hot = cells["cell"].value_counts().iloc[0] / len(cells)
        return {
            "candidates_per_image": round(len(cand) / len(cells), 4),
            "boundary_share": round(float((~cand["full"]).mean()), 4) if len(cand) else 0.0,
            "hot_cell_share": round(float(hot), 4),
        }

    def properties(self) -> dict:
        self.cover_pdf = self.cover.select("cell", "full").toPandas()
        return {
            "uniform": {**self._candidate_shares(self.lon, self.lat), "oracle_pairs": self.want_pairs[0]},
            "skewed": {**self._candidate_shares(self.skew_lon, self.skew_lat), "oracle_pairs": self.want_skew_pairs[0]},
            "knn.frontier_share": round(self.frontier_share, 4),
            "knn.true_knn_share": round(self.knn_true_share, 4),
        }

    def sizes(self) -> dict:
        return {
            "images": self.n_images, "skewed_images": self.n_skewed, "parcels": self.n_parcels, "res": JOIN_RES,
            "knn_images": self.n_knn, "k": self.k, "knn_res": self.knn_res, "knn_disk": self.knn_disk,
            "salt": self.nproc, "hot_share": self.hot_share,
        }

    def throughputs(self, med: dict) -> dict:
        return {
            "join_pairs_per_s": med["join"]["parts"].get("pairs", 0) / med["join"]["secs"],
            "knn_images_per_s": med["knn"]["items"] / med["knn"]["secs"],
            "unsalted_join_pairs_per_s": med["unsalted"]["parts"].get("pairs", 0) / med["unsalted"]["secs"],
            "salted_join_pairs_per_s": med["salted"]["parts"].get("pairs", 0) / med["salted"]["secs"],
        }


class Convert(Workload):
    """The reference converter's job on one delivery of EGRN extracts and
    geotagged photos: convert the extracts (parse -> parcel layer -> join
    with the photos' geotags -> tiles -> checkpointed tables), export
    them to SHP + XLSX, validate and featurise the photo payloads, and
    find near-duplicate captions."""

    name = "convert"
    kinds = ("convert", "export", "imaging", "dedup")
    # a conversion runs once per process, so convert and export are timed
    # cold, once each (a warm pair would cost ~20 s more and still give
    # one sample).  The short photo ops warm up before timing (a cold
    # dedup op takes 3-6 s, the next ones 1.3-2 s) and run four times in
    # a row each, the first of the four left out of the medians as in
    # ``GeoJoin``, before the long ops: a dedup op that follows a
    # conversion is 20-40 % slower than the others.
    warmup = {"imaging": 1, "dedup": 1}
    schedule = ("imaging",) * 4 + ("dedup",) * 4 + ("convert", "export")
    n_extracts = 60
    bad_share = 0.1
    n_images = 5_000
    n_photos = 160
    n_docs = 6_000
    twin_share = 0.05
    threshold = 0.5
    vocab = 5_000

    def make_inputs(self, in_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.n_bad = int(round(self.n_extracts * self.bad_share))
        self.n_good = self.n_extracts - self.n_bad
        self.parcels = synth.gen_parcels(self.seed, self.n_good)
        bad_at = set(rng.choice(self.n_extracts, size=self.n_bad, replace=False).tolist())
        kvzu = rng.random(self.n_good) < 0.5
        docs, good = [], iter(range(self.n_good))
        for i in range(self.n_extracts):
            if i in bad_at:
                xml = synth_xml.unsupported_xml()
            else:
                j = next(good)
                cad, rings = self.parcels[j]
                xml = synth_xml.kvzu_xml(cad, rings) if kvzu[j] else synth_xml.land_record_xml(cad, rings)
            docs.append((f"extract-{i:05d}.xml", xml.encode()))
        self.xml_bytes = sum(len(x) for _, x in docs)
        fpath = os.path.join(in_dir, "extracts.parquet")
        write_parquet(fpath, pa.table({"path": [p for p, _ in docs], "content": [x for _, x in docs]}), self.n_files)
        self.files = self.spark.read.parquet(fpath)
        self.phash = rng.integers(0, 2**63 - 1, size=self.n_images, dtype=np.int64)
        ipath = os.path.join(in_dir, "images.parquet")
        write_parquet(ipath, images_table(np.arange(self.n_images), self.phash), self.n_files)
        self.images = self.spark.read.parquet(ipath)
        self._setup_photos(in_dir, rng)

    def _setup_photos(self, in_dir: str, rng: np.random.Generator) -> None:
        """Real JPEG/PNG payloads, and a caption corpus with planted
        near-duplicate twins."""
        pdf = synth.gen_images_pdf(self.seed, self.n_photos)
        self.encoded_bytes = int(pdf["bytes"].map(len).sum())
        self.megapixels = float((pdf["w"] * pdf["h"]).sum()) / 1e6
        ppath = os.path.join(in_dir, "photos.parquet")
        write_parquet(ppath, pa.Table.from_pandas(pdf, preserve_index=False), self.n_files)
        self.photos = self.spark.read.parquet(ppath)
        words = np.array([f"w{rng.integers(1 << 40):x}" for _ in range(self.vocab)])
        texts = [" ".join(rng.choice(words, size=int(rng.integers(18, 25)))) for _ in range(self.n_docs)]
        n_twins = int(self.n_docs * self.twin_share)
        src = rng.choice(self.n_docs, size=n_twins, replace=False)
        # a twin is its source plus one appended word: Jaccard of the
        # 3-word shingles >= 16/17
        texts += [texts[s] + " " + words[rng.integers(self.vocab)] for s in src]
        self.want_twins = {(int(s), self.n_docs + t) for t, s in enumerate(src)}
        self.corpus_path = os.path.join(in_dir, "corpus.parquet")
        write_parquet(self.corpus_path, pa.table({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}), self.n_files)
        self.features_digest = None

    def prepare_oracle(self) -> None:
        lon, lat = oracle.lon_lat(self.phash, BOX)
        img, par = oracle.containment_pairs(lon, lat, self.parcels)
        self.want_pairs = len(img)
        self.want_hash = oracle.pair_hash(img, par)

    def run(self, kind: str, op_dir: str) -> Outcome:
        if kind == "convert":
            s = pipeline.convert_extracts(
                self.spark, self.files, self.images, BOX, op_dir,
                run_id=os.path.basename(op_dir), n_buckets=self.nproc,
            )
            return Outcome(self.n_extracts, lambda: self._check_convert(s, op_dir))
        if kind == "export":
            parcels, _ = pipeline.build_parcel_layer(self.files)
            e = pipeline.export_outputs(parcels, os.path.join(op_dir, "export"))
            want = {"n_shp_records": self.n_good, "n_xlsx_rows": self.n_good}
            return Outcome(e["n_xlsx_rows"], lambda: "" if e == want else f"export {e} != {want}")
        if kind == "imaging":
            t0 = time.perf_counter()
            val = imaging_ops.validate_images(self.photos).toPandas()
            t1 = time.perf_counter()
            feats = imaging_ops.image_features(self.photos).toPandas()
            t2 = time.perf_counter()
            return Outcome(
                self.n_photos, lambda: self._check_imaging(val, feats),
                parts={"validate_s": t1 - t0, "features_s": t2 - t1, "ok_share": float(val["ok"].mean())},
            )
        # minhash_lsh_pairs leaves its inputs cached, so a second call on
        # the same relation would reuse them: every op reads the corpus
        # through a path of its own, as a fresh batch would arrive
        path = os.path.join(op_dir, "corpus.parquet")
        os.makedirs(path)
        for name in os.listdir(self.corpus_path):
            os.link(os.path.join(self.corpus_path, name), os.path.join(path, name))
        pairs = dedupe.minhash_lsh_pairs(self.spark.read.parquet(path), self.threshold, text_col="text").toPandas()
        return Outcome(self.n_docs + len(self.want_twins), lambda: self._check_twins(pairs))

    def _check_convert(self, s: dict, op_dir: str) -> str:
        """Summary counts against the planted counts, and the stored join
        rows against the oracle pair set."""
        row = (
            self.spark.read.parquet(f"{op_dir}/join/data")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(oracle.pair_hash_col(F.col("image_id"), F.col("cad_number"))).alias("h"))
            .first()
        )
        got = (s["n_parcels"], s["n_errors"], s["n_join_rows"], int(row["n"]), int(row["h"] or 0))
        want = (self.n_good, self.n_bad, self.want_pairs, self.want_pairs, self.want_hash)
        if got != want or s["n_tiles"] <= 0:
            return f"summary {got} (tiles {s['n_tiles']}) != {want}"
        return ""

    def _check_imaging(self, val: pd.DataFrame, feats: pd.DataFrame) -> str:
        """Every generated photo decodes and validates, and the features
        are the same on every op of the run."""
        digest = hashlib.sha256(
            feats.sort_values("image_id").to_csv(index=False, float_format="%.10g").encode()
        ).hexdigest()
        if self.features_digest is None:
            self.features_digest = digest
        n_ok = int(val["ok"].sum())
        if n_ok != self.n_photos or len(feats) != self.n_photos or digest != self.features_digest:
            return f"ok {n_ok}/{self.n_photos}, features {len(feats)}, digest stable={digest == self.features_digest}"
        return ""

    def _check_twins(self, pairs: pd.DataFrame) -> str:
        got = set(zip(pairs["id_a"].astype(int), pairs["id_b"].astype(int)))
        if got != self.want_twins:
            return f"found {len(got & self.want_twins)}/{len(self.want_twins)} twins, {len(got - self.want_twins)} extra"
        return ""

    def sizes(self) -> dict:
        return {
            "extracts": self.n_extracts, "xml_bytes": self.xml_bytes, "images": self.n_images,
            "n_buckets": self.nproc, "photos": self.n_photos, "photo_bytes": self.encoded_bytes,
            "photo_megapixels": self.megapixels,
            "docs": self.n_docs + len(self.want_twins),
        }

    def properties(self) -> dict:
        return {
            "planted_error_share": round(self.n_bad / self.n_extracts, 4), "oracle_pairs": self.want_pairs,
            "twins": len(self.want_twins), "twin_share": self.twin_share,
        }

    def throughputs(self, med: dict) -> dict:
        imaging = med["imaging"]["parts"]
        return {
            "convert_extracts_per_s": med["convert"]["items"] / med["convert"]["secs"],
            "export_rows_per_s": med["export"]["items"] / med["export"]["secs"],
            "decode_mb_s": self.encoded_bytes / 1e6 / imaging["features_s"],
            "validate_images_per_s": self.n_photos / imaging["validate_s"],
            "dedup_docs_per_s": med["dedup"]["items"] / med["dedup"]["secs"],
        }


WORKLOADS = {w.name: w for w in (GeoJoin, Convert)}

# the package module each op kind calls into; jobs of the op that no
# traced call or package call site claims are attributed to it
PRIMARY_MODULE = {
    "join": "spatial_join",
    "knn": "knn",
    "unsalted": "spatial_join",
    "salted": "spatial_join",
    "convert": "pipeline",
    "export": "pipeline",
    "imaging": "imaging_ops",
    "dedup": "dedupe",
}
