"""Independent answer checkers for the three workloads.

This module imports numpy, pyarrow and the standard library only — never the
engine — so a defect in the engine cannot hide itself by also breaking the
check.  Every function either returns expected answers computed by brute force
from the generated inputs, or compares an engine output against them and
returns a list of problems (empty when the output is correct).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

# The engine's documented boundary tolerance for point-in-polygon tests:
# a point within EPS * max(edge length, 1) of an edge is ON the boundary, and
# 'contains' / 'within' exclude the boundary (JTS semantics).
EPS = 1e-9

_LUMA = np.array([0.299, 0.587, 0.114])


# -- points ------------------------------------------------------------------

def lonlat_from_phash(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The documented phash -> (lon, lat) bijection: low 32 bits scale to lon,
    high 32 bits to lat, both in [0, 100)."""
    u = np.asarray(phash, dtype=np.int64).view(np.uint64)
    lo = (u & np.uint64(0xFFFFFFFF)).astype(np.float64)
    hi = (u >> np.uint64(32)).astype(np.float64)
    return lo / float(2**32) * 100.0, hi / float(2**32) * 100.0


def strictly_inside_convex(ring: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Half-plane test of points against a closed counter-clockwise convex
    ring: inside iff the point is on the interior side of every edge by more
    than the boundary tolerance."""
    ok = np.ones(len(x), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
        ok &= cross > EPS * max(float(np.hypot(x2 - x1, y2 - y1)), 1.0)
    return ok


def tile_index(v: np.ndarray, lo: float, hi: float, res: int) -> np.ndarray:
    """Tile index of coordinates strictly inside [lo, hi): truncation of
    (v - lo) / (hi - lo) * res, the same arithmetic order the tiler uses."""
    return ((v - lo) / (hi - lo) * res).astype(np.int64)


# -- pip_tile ------------------------------------------------------------------

def expected_pip_tile(inp) -> tuple[dict, dict]:
    """Brute-force answers for one pip_tile job.

    Returns ``(counts, mvt_ids)``: counts maps (zone_id, tile_x, tile_y) to the
    number of points the zone's hexagon strictly contains in that tile;
    mvt_ids maps (tile_x, tile_y) of every tile in the MVT window to the sorted
    feature ids the tile must carry.
    """
    lon, lat = lonlat_from_phash(inp.phash)
    order = np.argsort(lon, kind="stable")
    slon, slat, sid = lon[order], lat[order], inp.image_id[order]
    lo, hi = inp.bounds[0], inp.bounds[2]
    counts: dict = {}
    feats: dict = {}
    wx0, wy0, wx1, wy1 = inp.mvt_window
    for zone_id, ring in zip(inp.zone_ids, inp.rings):
        a = np.searchsorted(slon, ring[:, 0].min(), side="left")
        b = np.searchsorted(slon, ring[:, 0].max(), side="right")
        x, y, ids = slon[a:b], slat[a:b], sid[a:b]
        band = (y >= ring[:, 1].min()) & (y <= ring[:, 1].max())
        x, y, ids = x[band], y[band], ids[band]
        inside = strictly_inside_convex(ring, x, y)
        x, y, ids = x[inside], y[inside], ids[inside]
        tx = tile_index(x, lo, hi, inp.tiles_per_axis)
        ty = tile_index(y, lo, hi, inp.tiles_per_axis)
        key = tx * inp.tiles_per_axis + ty
        uniq, cnt = np.unique(key, return_counts=True)
        for k, c in zip(uniq.tolist(), cnt.tolist()):
            counts[(int(zone_id), k // inp.tiles_per_axis, k % inp.tiles_per_axis)] = c
        win = (tx >= wx0) & (tx <= wx1) & (ty >= wy0) & (ty <= wy1)
        fid = ids[win] * inp.fid_stride + int(zone_id)
        for t, f in zip((tx[win] * inp.tiles_per_axis + ty[win]).tolist(), fid.tolist()):
            feats.setdefault(t, []).append(f)
    mvt_ids = {
        (k // inp.tiles_per_axis, k % inp.tiles_per_axis): np.sort(np.array(v, dtype=np.int64))
        for k, v in feats.items()
    }
    return counts, mvt_ids


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7


def _fields(buf: bytes):
    """Yield (field number, wire type, value) of a protobuf message; value is
    an int for varints and a bytes slice for length-delimited fields."""
    i, n = 0, len(buf)
    while i < n:
        key, i = _varint(buf, i)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, i = _varint(buf, i)
        elif wire == 2:
            ln, i = _varint(buf, i)
            v, i = buf[i:i + ln], i + ln
        elif wire == 1:
            v, i = buf[i:i + 8], i + 8
        elif wire == 5:
            v, i = buf[i:i + 4], i + 4
        else:
            raise ValueError(f"unsupported protobuf wire type {wire}")
        yield field, wire, v


def mvt_feature_ids(blob: bytes) -> np.ndarray:
    """Feature ids of every layer of a Mapbox Vector Tile, read with a
    standalone protobuf reader (Tile.layers = 3, Layer.features = 2,
    Feature.id = 1)."""
    ids = []
    for field, _, layer in _fields(bytes(blob)):
        if field != 3:
            continue
        for lf, _, feat in _fields(layer):
            if lf != 2:
                continue
            fid = None
            for ff, wire, v in _fields(feat):
                if ff == 1 and wire == 0:
                    fid = v
            ids.append(-1 if fid is None else fid)
    return np.sort(np.array(ids, dtype=np.int64))


def check_pip_tile(expected, counts_rows, mvt_rows) -> list[str]:
    """Compare a job's (zone_id, tile_x, tile_y, count) rows and
    (tile_x, tile_y, mvt, n_features) rows against the expected answers."""
    exp_counts, exp_ids = expected
    problems = []
    got = {}
    for z, tx, ty, c in counts_rows:
        key = (int(z), int(tx), int(ty))
        if key in got:
            problems.append(f"duplicate count row {key}")
        got[key] = int(c)
    if got != exp_counts:
        missing = len(exp_counts.keys() - got.keys())
        extra = len(got.keys() - exp_counts.keys())
        wrong = sum(1 for k in exp_counts.keys() & got.keys() if got[k] != exp_counts[k])
        problems.append(
            f"zone/tile counts differ: {missing} missing, {extra} extra, {wrong} wrong "
            f"(rows {sum(got.values())} vs {sum(exp_counts.values())})"
        )
    seen = set()
    for tx, ty, blob, n in mvt_rows:
        key = (int(tx), int(ty))
        seen.add(key)
        ids = mvt_feature_ids(blob)
        exp = exp_ids.get(key)
        if exp is None or len(ids) != len(exp) or not np.array_equal(ids, exp):
            problems.append(f"tile {key}: {len(ids)} feature ids do not match expected")
        elif int(n) != len(exp):
            problems.append(f"tile {key}: n_features {n} != {len(exp)}")
    if seen != set(exp_ids):
        problems.append(f"MVT tiles differ: {len(set(exp_ids) - seen)} missing, {len(seen - set(exp_ids))} extra")
    return problems


# -- ingest --------------------------------------------------------------------

def phash64(pixels: np.ndarray) -> np.ndarray:
    """The documented 64-bit average hash of each image in an (n, h, w, 3)
    stack: luma, 8x8 block means, threshold at the image's median, bits
    packed row-major MSB first, as signed int64."""
    n, h, w, _ = pixels.shape
    luma = pixels.astype(np.float64) @ _LUMA
    blocks = luma.reshape(n, 8, h // 8, 8, w // 8).mean(axis=(2, 4)).reshape(n, 64)
    bits = blocks > np.median(blocks, axis=1)[:, None]
    return np.packbits(bits, axis=1).view(">i8").ravel().astype(np.int64)


def snapshot_state(location: str) -> tuple[int, list[str]]:
    """(current snapshot id, data files added by that snapshot's newest
    manifest), read straight from the table's JSON metadata files."""
    meta = os.path.join(location, "metadata")
    n = 0
    while os.path.exists(os.path.join(meta, f"v{n + 1}.json")):
        n += 1
    if n == 0:
        return 0, []
    with open(os.path.join(meta, f"v{n}.json")) as f:
        snap = json.load(f)["snapshots"][-1]
    with open(os.path.join(meta, snap["manifests"][-1])) as f:
        files = [e["path"] for e in json.load(f)["files"]]
    return int(snap["snapshot_id"]), files


def snapshot_files(location: str, snapshot_id: int) -> list[str] | None:
    """Data files added by snapshot ``snapshot_id`` (its newest manifest), or
    None when the table has no such snapshot."""
    meta = os.path.join(location, "metadata")
    n = 0
    while os.path.exists(os.path.join(meta, f"v{n + 1}.json")):
        n += 1
    if n == 0:
        return None
    with open(os.path.join(meta, f"v{n}.json")) as f:
        snaps = [s for s in json.load(f)["snapshots"] if int(s["snapshot_id"]) == snapshot_id]
    if not snaps:
        return None
    with open(os.path.join(meta, snaps[0]["manifests"][-1])) as f:
        return [e["path"] for e in json.load(f)["files"]]


def check_ingest(location: str, prev_snapshot: int, batch_ids: np.ndarray,
                 batch_phash: np.ndarray) -> list[str]:
    """Snapshot ``prev_snapshot + 1`` exists, and every batch row is in the
    data files it committed, once, with ``phash_rec == phash``, ``dec_ok``
    and the bijection's (lon, lat).  Later snapshots (the next jobs') may
    already exist when this runs."""
    files = snapshot_files(location, prev_snapshot + 1)
    if files is None:
        return [f"no snapshot {prev_snapshot + 1} after the batch was committed"]
    problems = []
    cols = ["image_id", "phash", "phash_rec", "dec_ok", "lon", "lat"]
    tables = [pq.read_table(p, columns=cols) for p in files]
    ids = np.concatenate([t.column("image_id").to_numpy(zero_copy_only=False) for t in tables]) if tables else np.array([], dtype=object)
    if len(ids) != len(batch_ids):
        problems.append(f"{len(ids)} rows committed, expected {len(batch_ids)}")
    order = np.argsort(ids, kind="stable")
    exp_order = np.argsort(batch_ids, kind="stable")
    if len(ids) == len(batch_ids) and not np.array_equal(ids[order], batch_ids[exp_order]):
        problems.append("committed image ids differ from the batch")
    if problems:
        return problems

    def col(name):
        return np.concatenate([t.column(name).to_numpy(zero_copy_only=False) for t in tables])[order]

    phash, phash_rec, dec_ok = col("phash"), col("phash_rec"), col("dec_ok")
    if not np.array_equal(phash, batch_phash[exp_order]):
        problems.append("stored phash differs from the batch")
    if not np.array_equal(phash_rec, phash):
        problems.append(f"{int(np.sum(phash_rec != phash))} rows with phash_rec != phash")
    if not np.all(dec_ok.astype(bool)):
        problems.append(f"{int(np.sum(~dec_ok.astype(bool)))} rows with dec_ok false")
    lon, lat = lonlat_from_phash(phash)
    if not (np.array_equal(col("lon"), lon) and np.array_equal(col("lat"), lat)):
        problems.append("derived (lon, lat) differ from the phash bijection")
    return problems


# -- query ---------------------------------------------------------------------

def expected_rect(lon, lat, ids, window) -> np.ndarray:
    x0, y0, x1, y1 = window
    m = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
    return np.sort(ids[m])


def expected_polygon(lon, lat, ids, ring) -> np.ndarray:
    m = (lon >= ring[:, 0].min()) & (lon <= ring[:, 0].max())
    m &= (lat >= ring[:, 1].min()) & (lat <= ring[:, 1].max())
    sub = np.flatnonzero(m)
    inside = strictly_inside_convex(ring, lon[sub], lat[sub])
    return np.sort(ids[sub[inside]])


def check_ids(got: np.ndarray, expected: np.ndarray) -> list[str]:
    got = np.sort(np.asarray(got, dtype=np.int64))
    if len(got) != len(expected) or not np.array_equal(got, expected):
        return [f"{len(got)} ids returned, {len(expected)} expected, sets differ"]
    return []


def check_knn(lon, lat, ids, qx, qy, k, got_ids, got_dist) -> list[str]:
    """kNN answer check with the engine's documented tie rule: ascending
    distance, ties broken by ascending image_id.  Distances are recomputed
    here; a neighbour farther than the true k-th distance is wrong."""
    d = np.sqrt((lon - qx) ** 2 + (lat - qy) ** 2)
    top = np.lexsort((ids, d))[:k]
    got_ids = np.asarray(got_ids, dtype=np.int64)
    problems = []
    if len(got_ids) != min(k, len(ids)) or len(set(got_ids.tolist())) != len(got_ids):
        return [f"{len(got_ids)} neighbours returned, {min(k, len(ids))} distinct expected"]
    if np.array_equal(got_ids, ids[top]):
        return []
    pos = {int(i): p for p, i in enumerate(ids.tolist())}
    if any(int(i) not in pos for i in got_ids):
        return ["a returned neighbour is not in the table"]
    dist = d[[pos[int(i)] for i in got_ids]]
    tol = 1e-12 * max(1.0, float(d[top].max()))
    if np.any(np.abs(np.sort(dist) - d[top]) > tol):
        problems.append("returned neighbours are not the k nearest")
    if np.any(np.diff(dist) < -tol):
        problems.append("neighbours are not in ascending distance order")
    if np.any(np.abs(np.asarray(got_dist, dtype=np.float64) - dist) > tol):
        problems.append("reported distances are wrong")
    return problems
