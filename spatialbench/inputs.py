"""Seeded input generators.  The same seed always gives the same inputs.

Geometry is produced here as plain numpy arrays and hand-written WKB, so the
oracle checks the engine against coordinates it never touched.  Image bytes
use the codecs of the engine's ``sources.datagen`` schema (real PNG for
``png`` rows, the deterministic stand-in codec for ``jpeg`` rows) because
those are the formats the ingest path is documented to read.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np

from spatialbench import oracles

BOUNDS = (0.0, 0.0, 100.0, 100.0)
_SIZES = ((32, 32), (64, 48), (128, 96))
_WORDS = ("harbor", "street", "market", "bridge", "park", "tower", "river", "plaza")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def point_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, x, y)


def points_wkb(x: np.ndarray, y: np.ndarray):
    """Little-endian WKB points as a pyarrow binary array, built in one pass."""
    import pyarrow as pa

    rec = np.zeros(len(x), dtype=[("bo", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    fixed = pa.FixedSizeBinaryArray.from_buffers(pa.binary(21), len(x), [None, pa.py_buffer(rec.tobytes())])
    return fixed.cast(pa.binary())


def polygon_wkb(ring: np.ndarray) -> bytes:
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.astype("<f8").tobytes()


def hexagon(cx: float, cy: float, r: float, rot: float) -> np.ndarray:
    """Closed counter-clockwise regular hexagon ring, shape (7, 2)."""
    a = rot + np.arange(6) * (np.pi / 3)
    ring = np.column_stack([cx + r * np.cos(a), cy + r * np.sin(a)])
    return np.vstack([ring, ring[:1]])


def gen_points(seed: int, n: int) -> dict:
    """Geotagged-photo-like points: half uniform over the world, half in six
    Gaussian hot spots of different weight and width, so some grid cells
    hold far more points than others.  Rows are in random order (arrival
    order, not space order).  Returned as ``image_id`` and the ``phash`` whose
    documented bijection yields each point, plus the derived lon/lat."""
    rng = _rng(seed, 1)
    centres = rng.uniform(12.0, 88.0, (6, 2))  # drawn first: same hot spots for any n
    sigmas = rng.uniform(1.0, 4.0, 6)
    weights = rng.dirichlet(np.full(6, 2.0))
    n_u = n // 2
    uni = rng.uniform(0.0, 100.0, (n_u, 2))
    pick = rng.choice(6, n - n_u, p=weights)
    hot = centres[pick] + rng.normal(size=(n - n_u, 2)) * sigmas[pick, None]
    xy = np.clip(np.vstack([uni, hot]), 0.0, 99.9999999)[rng.permutation(n)]
    lo = np.floor(xy[:, 0] / 100.0 * 2**32).astype(np.uint64)
    hi = np.floor(xy[:, 1] / 100.0 * 2**32).astype(np.uint64)
    phash = ((hi << np.uint64(32)) | lo).view(np.int64)
    lon, lat = oracles.lonlat_from_phash(phash)
    return {
        "image_id": np.arange(n, dtype=np.int64),
        "phash": phash,
        "lon": lon,
        "lat": lat,
        "centres": centres,
        "sigmas": sigmas,
    }


@dataclass
class PipTileInputs:
    image_id: np.ndarray
    phash: np.ndarray
    zone_ids: np.ndarray
    rings: list
    zone_wkb: list
    tiles_per_axis: int
    mvt_window: tuple  # inclusive tile range (x0, y0, x1, y1)
    bounds: tuple = BOUNDS
    fid_stride: int = 1024  # MVT feature id = image_id * stride + zone_id


def gen_pip_tile(seed: int, n_points: int, n_zones: int, tiles_per_axis: int,
                 mvt_share: float) -> PipTileInputs:
    """Points plus n_zones seeded hexagons at uniform positions (so the
    hot spots make some zones far busier than others), and a square tile
    window holding about ``mvt_share`` of the points."""
    pts = gen_points(seed, n_points)
    rng = _rng(seed, 2)
    rings = [
        hexagon(cx, cy, r, rot)
        for cx, cy, r, rot in zip(
            rng.uniform(3.0, 97.0, n_zones), rng.uniform(3.0, 97.0, n_zones),
            rng.uniform(1.0, 2.5, n_zones), rng.uniform(0.0, np.pi / 3, n_zones),
        )
    ]
    tx = oracles.tile_index(pts["lon"], BOUNDS[0], BOUNDS[2], tiles_per_axis)
    ty = oracles.tile_index(pts["lat"], BOUNDS[1], BOUNDS[3], tiles_per_axis)
    side = max(1, int(round(tiles_per_axis * np.sqrt(mvt_share))))
    best = None
    for _ in range(24):
        x0, y0 = rng.integers(0, tiles_per_axis - side + 1, 2)
        share = np.mean((tx >= x0) & (tx < x0 + side) & (ty >= y0) & (ty < y0 + side))
        if best is None or abs(share - mvt_share) < abs(best[0] - mvt_share):
            best = (share, int(x0), int(y0))
    _, x0, y0 = best
    return PipTileInputs(
        image_id=pts["image_id"],
        phash=pts["phash"],
        zone_ids=np.arange(n_zones, dtype=np.int64),
        rings=rings,
        zone_wkb=[polygon_wkb(r) for r in rings],
        tiles_per_axis=tiles_per_axis,
        mvt_window=(x0, y0, x0 + side - 1, y0 + side - 1),
    )


def _encode(pix: np.ndarray, fmt: str) -> bytes:
    from incubator_sedona_spark.sources.images import encode_image, encode_png

    return encode_png(pix) if fmt == "png" else encode_image(pix, "jpeg")


def gen_ingest_batch(seed: int, batch: int, rows: int):
    """Batch ``batch`` of image+caption rows in the datagen schema, as a
    pandas frame.  Every row gets an image of its own (an 8x8 block pattern
    plus per-pixel noise, at one of three sizes), so no two rows of a run
    share image bytes.  Even rows are real PNG, odd rows the stand-in
    ``jpeg`` codec.  Every channel value is 2 mod 4, which the stand-in
    codec's 4-level quantisation reproduces exactly, so the phash of the
    generated pixels is the phash a correct decode must recompute.  Encoding
    runs on nproc threads (zlib releases the GIL)."""
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    rng = _rng(seed, 100 + batch)
    pixels = [None] * rows
    phash = np.empty(rows, np.int64)
    for s, (w, h) in enumerate(_SIZES):
        idx = np.arange(s, rows, len(_SIZES))
        for part in np.array_split(idx, -(-len(idx) // 256)):  # chunks bound memory
            n = len(part)
            blocks = rng.integers(4, 60, (n, 8, 1, 8, 1, 3), dtype=np.int16)
            q = np.broadcast_to(blocks, (n, 8, h // 8, 8, w // 8, 3)).reshape(n, h, w, 3)
            q = q + rng.integers(-3, 4, (n, h, w, 3), dtype=np.int16)
            pix = (np.clip(q, 0, 63) * 4 + 2).astype(np.uint8)
            phash[part] = oracles.phash64(pix)
            for k, j in enumerate(part):
                pixels[j] = pix[k]
    fmt = ["png" if i % 2 == 0 else "jpeg" for i in range(rows)]
    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as ex:
        data = list(ex.map(_encode, pixels, fmt))
    words = rng.integers(0, len(_WORDS), (rows, 3))
    return pd.DataFrame({
        "image_id": [f"s{seed}-b{batch:04d}-{i:06d}" for i in range(rows)],
        "bytes": data,
        "w": np.array([_SIZES[i % len(_SIZES)][0] for i in range(rows)], np.int32),
        "h": np.array([_SIZES[i % len(_SIZES)][1] for i in range(rows)], np.int32),
        "fmt": fmt,
        "caption": [" ".join(_WORDS[k] for k in ws) for ws in words],
        "phash": phash,
    })


@dataclass
class Query:
    kind: str  # "rect" | "polygon" | "knn"
    window: tuple = ()  # rect: (x0, y0, x1, y1)
    ring: np.ndarray | None = None  # polygon: closed hexagon ring
    wkb: bytes = b""
    qx: float = 0.0
    qy: float = 0.0
    k: int = 10


def gen_queries(seed: int, lon: np.ndarray, lat: np.ndarray, n: int) -> list:
    """Strict round-robin of rectangle, hexagon and kNN queries whose centres
    are drawn from the table's own points (so they follow its density)."""
    rng = _rng(seed, 4)
    out = []
    for i in range(n):
        j = int(rng.integers(0, len(lon)))
        cx, cy = float(lon[j]), float(lat[j])
        kind = ("rect", "polygon", "knn")[i % 3]
        if kind == "rect":
            hw, hh = rng.uniform(0.3, 0.9, 2)
            out.append(Query(kind, window=(cx - hw, cy - hh, cx + hw, cy + hh)))
        elif kind == "polygon":
            ring = hexagon(cx, cy, rng.uniform(0.4, 1.0), rng.uniform(0.0, np.pi / 3))
            out.append(Query(kind, ring=ring, wkb=polygon_wkb(ring)))
        else:
            dx, dy = rng.normal(scale=0.05, size=2)
            out.append(Query(kind, qx=cx + dx, qy=cy + dy))
    return out
