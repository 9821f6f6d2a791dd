"""Independent answers for the benchmark's correctness checks.

Nothing here imports the engine: containment is a plain even-odd ray
cast per parcel over all points (no grid index), kNN is brute force over
every centroid, and the pair hash is integer arithmetic that the Spark
side reproduces with Column expressions (``pair_hash_col``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_MASK32 = 0xFFFFFFFF
_TWO32 = 4294967296.0
_H_IMG = 1000003
_H_CAD = 7919
_H_MOD = 2147483647


def lon_lat(phash: np.ndarray, box) -> tuple[np.ndarray, np.ndarray]:
    """The engine's documented geotag rule: the low 32 bits of phash
    place the point in longitude, the high 32 bits in latitude."""
    ph = np.asarray(phash, dtype=np.int64)
    lon = box.lon0 + (ph & _MASK32).astype(np.float64) / _TWO32 * box.dlon
    lat = box.lat0 + ((ph >> 32) & _MASK32).astype(np.float64) / _TWO32 * box.dlat
    return lon, lat


def inside(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd containment over all rings (holes subtract)."""
    out = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        for a, b, c, d in zip(x1, y1, x2, y2):
            if b == d:
                continue
            cross = (b > py) != (d > py)
            xi = a + (py - b) * (c - a) / (d - b)
            out ^= cross & (px < xi)
    return out


def containment_pairs(lon, lat, parcels) -> tuple[np.ndarray, np.ndarray]:
    """All (image index, parcel index) pairs with the point inside the
    parcel; a bounding-box prefilter per parcel keeps it fast."""
    img, par = [], []
    for j, (_, rings) in enumerate(parcels):
        outer = rings[0]
        sel = np.flatnonzero(
            (lon >= outer[:, 0].min())
            & (lon <= outer[:, 0].max())
            & (lat >= outer[:, 1].min())
            & (lat <= outer[:, 1].max())
        )
        hit = sel[inside(lon[sel], lat[sel], rings)]
        img.append(hit)
        par.append(np.full(len(hit), j, dtype=np.int64))
    return np.concatenate(img), np.concatenate(par)


def pair_hash(img_idx: np.ndarray, par_idx: np.ndarray) -> int:
    """Order-free hash of a pair set: the sum of a per-pair mix."""
    h = (np.asarray(img_idx, np.int64) * _H_IMG + np.asarray(par_idx, np.int64) * _H_CAD) % _H_MOD
    return int(h.sum())


def pair_hash_col(image_id: Column, cad_number: Column) -> Column:
    """``pair_hash`` per row, from the generated id formats
    ``img-<index>`` and ``<..>:<..>:<..>:<parcel index + 1>``."""
    i = F.substring(image_id, 5, 32).cast("long")
    j = F.substring_index(cad_number, ":", -1).cast("long") - F.lit(1)
    return F.pmod(i * F.lit(_H_IMG) + j * F.lit(_H_CAD), F.lit(_H_MOD))


def grid_ij(lon, lat, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Column/row of a point's cell on the 2^res x 2^res world grid."""
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return ix, iy


def disk_candidates(lon, lat, clon, clat, k: int, res: int, disk: int) -> np.ndarray:
    """The candidate set grid kNN promises to rank exactly: the centroids
    whose cell is within Chebyshev ``disk`` of the point's cell when there
    are at least k of them, else every centroid (the whole-layer
    fallback).  Returns a (points x centroids) mask."""
    pi, pj = grid_ij(lon, lat, res)
    ci, cj = grid_ij(clon, clat, res)
    near = (np.abs(pi[:, None] - ci[None, :]) <= disk) & (np.abs(pj[:, None] - cj[None, :]) <= disk)
    near[near.sum(axis=1) < k] = True
    return near


def knn_brute(lon, lat, clon, clat, cads: list[str], k: int, allowed: np.ndarray | None = None):
    """Top-k parcels per point by (distance, cad_number), optionally
    among ``allowed`` centroids only: returns (k-column index matrix into
    ``cads``, matching distances)."""
    dx = lon[:, None] - clon[None, :]
    dy = lat[:, None] - clat[None, :]
    dist = np.sqrt(dx * dx + dy * dy)
    if allowed is not None:
        dist = np.where(allowed, dist, np.inf)
    cad_rank = np.argsort(np.argsort(np.array(cads)))
    order = np.lexsort((np.broadcast_to(cad_rank, dist.shape), dist), axis=1)[:, :k]
    return order, np.take_along_axis(dist, order, axis=1)
