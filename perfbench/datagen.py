"""Seeded benchmark inputs, each written once per (kind, seed, size).

Every build_* function writes parquet files into a fresh directory and returns the
reference values the output checks compare against, computed here with
NumPy (never with Spark). The directory is published by an atomic rename
after a `_COMPLETE` marker is written, so a crashed generation is never
reused. Only the newest KEEP entries per kind stay on disk.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import time
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEEP = 6
T6 = 600_000.0
SAMPLE_ROWS = 100_000  # the fixed per-tile-count sample of assign_counts
EMB_DIM = 16
EMB_SALT = 1000


def cached(cache: Path, kind: str, seed: int, size: dict, build, procs: int):
    """(directory, reference dict, seconds spent generating; 0.0 on a hit)."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    final = cache / f"{kind}-seed{seed}-{tag}"
    if (final / "_COMPLETE").exists():
        return final, json.loads((final / "_reference.json").read_text()), 0.0
    t0 = time.perf_counter()
    tmp = cache / f".{final.name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    ref = build(tmp, seed, procs=procs, **size)
    (tmp / "_reference.json").write_text(json.dumps(ref))
    (tmp / "_COMPLETE").write_text("")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    _evict(cache, kind)
    return final, ref, time.perf_counter() - t0


def _evict(cache: Path, kind: str) -> None:
    done = [p for p in cache.glob(f"{kind}-seed*") if (p / "_COMPLETE").exists()]
    done.sort(key=lambda p: p.stat().st_mtime, reverse=True)
    for old in done[KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


def _pmap(fn, jobs: list, procs: int) -> list:
    """fn over jobs in `procs` spawned processes, all of them ended on return."""
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        out = pool.map(fn, jobs)
        pool.close()
        pool.join()
    return out


# -- images table (assign_counts) ------------------------------------------

def tile_keys(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """NumPy reference of the T6 tile assignment: rows (zone code, tx, ty)
    for in-zone points, via zones.assign_primary_zone_code and
    geodesy.aeqd_forward."""
    from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER
    from equi7grid_spark.geodesy import aeqd_forward
    from equi7grid_spark.zones import assign_primary_zone_code

    code = assign_primary_zone_code(lon, lat)
    keys = []
    for zc in np.unique(code):
        if zc < 0:
            continue
        m = code == zc
        x, y = aeqd_forward(DEFAULT_SYSTEM_ORDER[zc], lon[m], lat[m])
        keys.append(np.stack([np.full(m.sum(), zc), np.floor(x / T6), np.floor(y / T6)], 1))
    return np.concatenate(keys).astype(np.int64) if keys else np.zeros((0, 3), np.int64)


def _count(keys: np.ndarray) -> dict[tuple, int]:
    uniq, n = np.unique(keys, axis=0, return_counts=True)
    return {tuple(int(v) for v in k): int(c) for k, c in zip(uniq, n)}


def _images_chunk(args) -> tuple[dict, dict]:
    seed, lo, hi, path = args
    from equi7grid_spark.images import make_batch

    pdf = make_batch(np.arange(lo, hi), seed=seed, with_bytes=False).drop(columns="bytes")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
    s = max(0, min(hi, SAMPLE_ROWS) - lo)
    return _count(tile_keys(lon, lat)), _count(tile_keys(lon[:s], lat[:s]))


def build_images(out: Path, seed: int, *, procs: int, rows: int, files: int) -> dict:
    """`rows` rows of images.make_batch (the images.synthetic_images
    generator: 85% of points in 12 continental anchor boxes) without the
    bytes column, in `files` parquet files. Reference: per-tile counts of
    the whole table and of the rows with index < SAMPLE_ROWS."""
    edges = np.linspace(0, rows, files + 1).astype(int)
    jobs = [(seed, int(a), int(b), str(out / f"part-{k:03d}.parquet"))
            for k, (a, b) in enumerate(zip(edges[:-1], edges[1:]))]
    parts = _pmap(_images_chunk, jobs, procs)
    full: dict[tuple, int] = {}
    sample: dict[tuple, int] = {}
    for f, s in parts:
        for k, v in f.items():
            full[k] = full.get(k, 0) + v
        for k, v in s.items():
            sample[k] = sample.get(k, 0) + v
    return {
        "rows": rows,
        "tile_counts": [[*k, v] for k, v in sorted(full.items())],
        "sample_rows": min(rows, SAMPLE_ROWS),
        "sample_tile_counts": [[*k, v] for k, v in sorted(sample.items())],
    }


# -- near-duplicate corpus (near_dup) ---------------------------------------

def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def embeddings(keys: np.ndarray) -> np.ndarray:
    """Rows of images.embedding_from_key(dim=16): rows with equal keys get
    bit-identical vectors, distinct keys independent ones."""
    with np.errstate(over="ignore"):
        k = (keys.astype(np.uint64)[:, None] + np.uint64(EMB_SALT)
             + np.arange(EMB_DIM, dtype=np.uint64)[None, :])
    h = _splitmix64(k)
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53) * 2.0 - 1.0


def _mask(i: int, mod: int, offsets) -> int:
    return sum(1 << (i % mod + o) for o in offsets)


CAP_OFFSETS = (0, 2, 16, 18, 32, 34, 48, 50)
EMB_OFFSETS = (1, 3, 17, 19, 33, 35, 49, 51)


def _variants(i: int, image_id: str, ph: int, cap: str) -> list[tuple]:
    """(image_id, phash, caption, embedding key) of base image i and its
    planted variants, as in the q_image_multimodal_embed_near_dup fixture:
    a hamming-1 re-encode with a reworded caption (i%10), a caption
    duplicate 8 bits away (i%15), an embedding duplicate 8 bits away with
    its own caption (i%12) and a repost sharing all three signals (i%20)."""
    out = [(image_id, ph, cap, ph)]
    if i % 10 == 0:
        out.append((image_id + "_v1", ph ^ (1 << (i % 63)), cap + " v1", ph ^ 1))
    if i % 15 == 0:
        out.append((image_id + "_cap", ph ^ _mask(i, 13, CAP_OFFSETS), cap, ph ^ 2))
    if i % 12 == 0:
        out.append((image_id + "_emb", ph ^ _mask(i, 11, EMB_OFFSETS), cap + " emb", ph))
    if i % 20 == 0:
        out.append((image_id + "_all", ph ^ (1 << (i % 62 + 1)), cap, ph))
    return out


def build_corpus(out: Path, seed: int, *, procs: int, base: int, files: int) -> dict:
    """`base` images of images.make_batch plus planted variants. Reference:
    every planted pair with its signal and hamming distance, and the
    phash clusters (max hamming 3) as (image_id, cluster_id) rows. Planted
    pairs are only searched within one base image's variants; chance pairs
    between unrelated random 63-bit hashes are not expected at this size."""
    from equi7grid_spark.images import make_batch

    b = make_batch(np.arange(base), seed=seed, with_bytes=False)
    rows, pairs, members = [], [], []
    for i, (iid, ph, cap, lon, lat) in enumerate(
        zip(b["image_id"], b["phash"].tolist(), b["caption"], b["lon"], b["lat"])
    ):
        group = _variants(i, iid, int(ph), cap)
        rows.extend((*v, lon, lat) for v in group)
        if len(group) > 1:
            p, m = _group_truth(group)
            pairs.extend(p)
            members.extend(m)
    ids, phs, caps, eks, lons, lats = map(list, zip(*rows))
    emb = embeddings(np.array(eks, dtype=np.int64))
    table = pa.table({
        "image_id": ids,
        "phash": pa.array(phs, pa.int64()),
        "caption": caps,
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, emb.size + 1, EMB_DIM, dtype=np.int32), emb.ravel()),
        "lon": lons,
        "lat": lats,
    })
    step = -(-len(rows) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), out / f"part-{k:03d}.parquet")
    return {"rows": len(rows), "base": base, "pairs": sorted(pairs),
            "cluster_members": sorted(members)}


def _group_truth(group: list[tuple]) -> tuple[list, list]:
    pairs = []
    parent = {g[0]: g[0] for g in group}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a in range(len(group)):
        for b in range(a + 1, len(group)):
            (ia, pa_, ca, ka), (ib, pb, cb, kb) = sorted((group[a], group[b]))
            ham = bin(pa_ ^ pb).count("1")
            sig = [s for s, ok in (("phash", ham <= 3), ("caption", ca == cb),
                                   ("embed", ka == kb)) if ok]
            if sig:
                pairs.append([ia, ib, "+".join(sig), ham if ham <= 3 else None])
            if ham <= 3:
                ra, rb = find(ia), find(ib)
                parent[max(ra, rb)] = min(ra, rb)
    comps: dict[str, list[str]] = {}
    for g in group:
        comps.setdefault(find(g[0]), []).append(g[0])
    members = [[m, min(c)] for c in comps.values() if len(c) > 1 for m in c]
    return pairs, members


# -- rasters (the warp probe of assign_counts' traced run) ------------------

BIG_EXTENT = (5.0, 44.0, 15.0, 52.0)  # lon/lat degrees, fixed across seeds
SMALL_PX = 64
SMALL_DEG = 0.64
NODATA = -9999.0


def _raster_row(image_id, arr, extent) -> dict:
    return {"image_id": image_id, "bytes": arr.tobytes(), "fmt": "raw",
            "dtype": "int16", "w": arr.shape[1], "h": arr.shape[0],
            "crs": "EPSG:4326", "x_min": extent[0], "y_min": extent[1],
            "x_max": extent[2], "y_max": extent[3], "nodata": NODATA}


def _warp_crc(args) -> list:
    row, t, sampling = args
    from equi7grid_spark.warp.resample import warp_image_to_tile

    arr = np.frombuffer(row["bytes"], dtype=np.int16).reshape(row["h"], row["w"])
    extent = (row["x_min"], row["y_min"], row["x_max"], row["y_max"])
    tile = warp_image_to_tile(arr, row["crs"], extent, row["nodata"], t.subgrid,
                              t.ll_x, t.ll_y, T6, sampling, "bilinear")
    return [row["image_id"], t.tilename, int((tile != row["nodata"]).sum()),
            zlib.crc32(tile.tobytes())]


def build_rasters(out: Path, seed: int, *, procs: int, big_px: int, small: int,
                  sampling: float) -> dict:
    """One big_px x big_px int16 raster over BIG_EXTENT plus `small` 64x64
    int16 rasters, each centred on a seeded land T6 tile away from zone
    boundaries so that it overlaps exactly that tile. Pixel values are
    seeded. Reference: the expected (raster, tile) set with n_valid and the
    CRC-32 of each warped tile, warped here with the NumPy
    warp.resample.warp_image_to_tile."""
    from equi7grid_spark.data_loader import data_path
    from equi7grid_spark.geodesy import aeqd_inverse
    from equi7grid_spark.roi import get_tiles_in_geog_bbox

    rng = np.random.default_rng(seed)
    r, c = np.mgrid[0:big_px, 0:big_px]
    big = ((r * rng.integers(1, 7) + c * rng.integers(1, 7)) % 4000
           + rng.integers(0, 50, size=r.shape)).astype(np.int16)
    rows = [_raster_row("big", big, BIG_EXTENT)]
    expect = [("big", t) for t in get_tiles_in_geog_bbox(BIG_EXTENT, "T6")]

    cat = pq.read_table(data_path("tile_catalog.parquet")).to_pandas()
    cat = cat[(cat.variant == "std") & (cat.tiling_id == "T6") & cat.covers_land
              & ~cat.zone_boundary].sort_values("tilename").reset_index(drop=True)
    for k in rng.permutation(len(cat)):
        if len(rows) > small:
            break
        t = cat.iloc[k]
        lon, lat = aeqd_inverse(t.subgrid, t.ll_x + T6 / 2, t.ll_y + T6 / 2)
        lon, lat = float(lon), float(lat)
        h = SMALL_DEG / 2
        extent = (lon - h, lat - h, lon + h, lat + h)
        hits = get_tiles_in_geog_bbox(extent, "T6")
        if len(hits) != 1 or hits[0].tilename != t.tilename or abs(lat) > 80:
            continue
        arr = rng.integers(0, 4000, size=(SMALL_PX, SMALL_PX)).astype(np.int16)
        iid = f"small{len(rows):03d}"
        rows.append(_raster_row(iid, arr, extent))
        expect.append((iid, hits[0]))
    by_id = {row["image_id"]: row for row in rows}
    tiles = _pmap(_warp_crc, [(by_id[i], t, sampling) for i, t in expect], procs)
    pq.write_table(pa.Table.from_pylist(rows), out / "rasters.parquet")
    return {"rows": len(rows), "mpix": sum(r["w"] * r["h"] for r in rows) / 1e6,
            "tiles": sorted(tiles)}
