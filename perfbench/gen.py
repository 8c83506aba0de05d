"""Seeded input generator: co-registered WRI tree-cover style rasters.

Every raster is written with the package's own encoder
(``sinks.geotiff.encode_geotiff``) so the benchmark needs no GDAL and
fetches nothing.  The same ``(seed, size)`` always yields byte-identical
files; ``inputs()`` keeps them in a per-(seed, size) directory and
re-uses a complete one, so generation runs once per seed and outside
every clock.

* ``loss.tif``  u1, LZW, 256² tiles: patchy loss years 1–23 in 8×8
  patches, 0 = nodata, about a third valid.  It is band 1, the mask.
* ``tcd.tif``   u1, deflate + predictor 2: canopy density 0–100, a
  smooth field plus per-pixel noise; nodata 255 never occurs.
* ``agb.tif``   f4, deflate + predictor 3: continuous biomass with
  about 5 % nodata (-9999).
* ``lzw_f4.tif`` (side file, ``side_input()``) 256² f4, LZW, 64²
  tiles: sizes the LZW-float decode.  The encoder's LZW cost grows
  faster than linearly in the block size, so LZW-float inputs at 256²
  tiles (or a larger side file) cost more to generate than a run can
  spend.

``--corpus`` also writes the query corpus of ``tables.py`` for the seed.
"""

from __future__ import annotations

import os

import numpy as np

PIXEL = 0.00025  # 30 m Hansen grid, degrees
ORIGIN = (110.0, 0.5)  # upper-left lon/lat, tropical (non-trivial areas)
TILE = 256
PATCH = 8
SIDE_SIZE, SIDE_TILE = 256, 64
AGB_NODATA = -9999.0
TCD_NODATA = 255


def arrays(seed: int, size: int) -> dict[str, np.ndarray]:
    """The three co-registered ``size``×``size`` source arrays."""
    rng = np.random.default_rng([seed, size])
    cells = -(-size // PATCH)
    block = np.ones((PATCH, PATCH), dtype="u1")

    years = rng.integers(1, 24, size=(cells, cells), dtype="u1")
    valid = rng.random((cells, cells)) < 1 / 3
    loss = np.kron(np.where(valid, years, 0).astype("u1"), block)[:size, :size]

    coarse = rng.uniform(0, 100, size=(cells, cells))
    field = np.kron(coarse, np.ones((PATCH, PATCH)))[:size, :size]
    noise = rng.normal(0, 12, size=(size, size))
    tcd = np.clip(np.rint(field + noise), 0, 100).astype("u1")

    agb = (field * 3.1 + rng.gamma(2.0, 8.0, size=(size, size))).astype("f4")
    agb[rng.random((size, size)) < 0.05] = AGB_NODATA
    return {"loss": loss, "tcd": tcd, "agb": agb}


def side_array(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, SIDE_SIZE, 4])
    return rng.gamma(2.0, 40.0, size=(SIDE_SIZE, SIDE_SIZE)).astype("f4")


# file name -> encode_geotiff keyword arguments
SPECS = {
    "loss.tif": dict(dtype="u1", compression="lzw", predictor=1, nodata=0),
    "tcd.tif": dict(dtype="u1", compression="deflate", predictor=2, nodata=TCD_NODATA),
    "agb.tif": dict(dtype="f4", compression="deflate", predictor=3, nodata=AGB_NODATA),
}


def encode(arr: np.ndarray, tile: int = TILE, **kw) -> bytes:
    from raster2points_spark.sinks.geotiff import encode_geotiff

    h, w = arr.shape
    data, _ = encode_geotiff(
        [arr.ravel()],
        w,
        h,
        pixel_scale=(PIXEL, PIXEL),
        tiepoint=(0.0, 0.0, 0.0, ORIGIN[0], ORIGIN[1], 0.0),
        tile=(tile, tile),
        **kw,
    )
    return data


def _write(path: str, data: bytes) -> None:
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def inputs(root: str, seed: int, size: int) -> dict[str, str]:
    """Write (or re-use) the inputs for ``(seed, size)`` under ``root``
    and return ``{"loss": path, "tcd": path, "agb": path}``."""
    d = os.path.join(root, f"seed{seed}_{size}")
    os.makedirs(d, exist_ok=True)
    src = None
    out = {}
    for name, kw in SPECS.items():
        path = os.path.join(d, name)
        if not os.path.exists(path):
            src = src or arrays(seed, size)
            _write(path, encode(src[name[:-4]], **kw))
        out[name[:-4]] = path
    return out


def side_input(root: str, seed: int) -> str:
    """Write (or re-use) the LZW-f4 side file for ``seed``."""
    d = os.path.join(root, f"seed{seed}_side")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "lzw_f4.tif")
    if not os.path.exists(path):
        _write(
            path,
            encode(side_array(seed), tile=SIDE_TILE, dtype="f4",
                   compression="lzw", predictor=1, nodata=AGB_NODATA),
        )
    return path


if __name__ == "__main__":
    # Child-process entry: generation imports the package (and so
    # pyspark), which must not pre-warm the parent's measured set-up.
    import argparse
    import json
    import sys
    import time

    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int, nargs="+", required=True)
    ap.add_argument("--side", action="store_true")
    ap.add_argument("--corpus", action="store_true")
    a = ap.parse_args()
    t0 = time.perf_counter()
    paths = {n: inputs(a.root, a.seed, n) for n in a.size}
    if a.side:
        paths["side"] = side_input(a.root, a.seed)
    if a.corpus:
        import tables

        paths["corpus"] = tables.corpus(a.root, a.seed)
    json.dump({"gen_s": time.perf_counter() - t0, "paths": paths}, sys.stdout)
