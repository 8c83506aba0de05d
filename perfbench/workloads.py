"""The two workloads: one op each through the package's public entry
points, and the check every op's output must pass.

``tif2csv``  the paper's job: three co-registered GeoTIFFs (LZW u1
             mask, deflate u1, deflate f4) → ``api.raster2csv`` with
             ``calc_area=True``.  Header preflight, LZW + deflate
             decode, the Python→Arrow tile path, zip + posexplode
             melt, mask/affine/area and the CSV sink.
``cogify``   the write path: two ``cli.main --format geotiff
             --overviews 2`` calls (noisy u1 → LZW at 128² tiles, f4 →
             deflate predictor 3).  grid_unpivot, one shuffle to one
             group per file, the GeoTIFF encoders and box-mean
             pyramids.  At 512² the pure-Python LZW encoder is about
             a third of an op (1.6 s of a 5.2 s op on 4 vCPUs), so an
             encoder change shows in ``op_s``.
"""

from __future__ import annotations

import contextlib
import glob
import io
import os

import numpy as np

import gen

BANDS = ["b1", "b2", "b3"]
CSV_COLUMNS = ["lon", "lat", "val1", "val2", "val3", "area"]

COG_ARGS = {
    # output name -> (input key, cli flags)
    "lzw_u1": ("tcd", ["--compression", "lzw", "--dtype", "u1",
                       "--tile-size", "128", "--nodata-out", str(gen.TCD_NODATA)]),
    "deflate_f4": ("agb", ["--compression", "deflate", "--dtype", "f4",
                           "--predictor", "3"]),
}


# Sums of single columns and of products of two, so that a value
# paired with the wrong pixel's coordinates or another band's value
# fails even when every column's own sum is right.  val3 is float32
# written as text, area is float64.
SUM_TOLERANCE = {
    "val1": 0.0, "val2": 0.0, "val3": 1e-6, "area": 1e-9,
    "val1*val2": 0.0, "val2*val3": 1e-6, "lon*val2": 1e-10, "lat*val1": 1e-10,
    "lat*val3": 1e-6, "lon*area": 1e-9,
}


def _sums(lon, lat, val1, val2, val3, area, ok) -> dict[str, float]:
    """The checked sums; ``ok`` marks the rows whose val3 is not null."""
    cols = {"lon": lon, "lat": lat, "val1": val1, "val2": val2, "val3": val3, "area": area}
    out = {}
    for name in SUM_TOLERANCE:
        terms = [cols[c] for c in name.split("*")]
        prod = terms[0] if len(terms) == 1 else terms[0] * terms[1]
        out[name] = float(prod[ok].sum() if "val3" in name else prod.sum())
    return out


def _close(a: float, b: float, rel: float) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1.0)


class Tif2Csv:
    name = "tif2csv"
    size = 1024  # 3 × 1024² = 3.1 Mpx decoded, ≈ 350 k points per op
    mpx = 3 * size * size / 1e6

    def __init__(self, spark):
        self.spark = spark

    def run(self, paths: dict[str, str], out: str) -> None:
        from raster2points_spark import api

        api.raster2csv(
            self.spark, [paths["loss"], paths["tcd"], paths["agb"]], BANDS, out,
            calc_area=True,
        )

    @staticmethod
    def expected(seed: int, size: int) -> dict:
        from raster2points_spark.operators.grid import WGS84_RADIUS

        a = gen.arrays(seed, size)
        valid = a["loss"] != 0
        rows, cols = np.nonzero(valid)
        lon = gen.ORIGIN[0] + (cols + 0.5) * gen.PIXEL
        lat = gen.ORIGIN[1] + (rows + 0.5) * -gen.PIXEL
        agb = a["agb"][valid].astype("f8")
        agb_ok = agb != gen.AGB_NODATA
        half = gen.PIXEL / 2
        area = (
            np.radians(gen.PIXEL) * WGS84_RADIUS**2
            * np.abs(np.sin(np.radians(lat + half)) - np.sin(np.radians(lat - half)))
        )
        val1 = a["loss"][valid].astype("f8")
        val2 = a["tcd"][valid].astype("f8")
        return {
            "points": int(valid.sum()),
            "sums": _sums(lon, lat, val1, val2, agb, area, agb_ok),
            "val3_nulls": int((~agb_ok).sum()),
            "box": (lon.min(), lon.max(), lat.min(), lat.max()),
        }

    @staticmethod
    def check(exp: dict, out: str) -> tuple[list[str], dict]:
        """Problems found in the CSV directory ``out`` (empty when it
        is correct), and counters about it."""
        import pyarrow as pa
        import pyarrow.csv as pcsv

        parts = sorted(glob.glob(os.path.join(out, "part-*.csv")))
        # fixed column types: a header-only part would infer null columns
        opts = pcsv.ConvertOptions(column_types={c: pa.float64() for c in CSV_COLUMNS})
        tables = [pcsv.read_csv(p, convert_options=opts) for p in parts if os.path.getsize(p)]
        t = pa.concat_tables(tables) if tables else None
        info = {
            "csv_bytes": sum(os.path.getsize(p) for p in parts),
            "points": 0 if t is None else t.num_rows,
        }
        if t is None:
            return ["no CSV rows written"], info
        if t.column_names != CSV_COLUMNS:
            return [f"columns {t.column_names} != {CSV_COLUMNS}"], info
        problems = []
        if t.num_rows != exp["points"]:
            problems.append(f"points {t.num_rows} != {exp['points']}")
        col = {c: t.column(c).to_numpy(zero_copy_only=False) for c in CSV_COLUMNS}
        ok = ~np.isnan(col["val3"])
        got = _sums(*(col[c] for c in CSV_COLUMNS), ok)
        for name, want in exp["sums"].items():
            if not _close(got[name], want, SUM_TOLERANCE[name]):
                problems.append(f"sum({name}) {got[name]!r} != {want!r}")
        nulls = t.column("val3").null_count
        if nulls != exp["val3_nulls"]:
            problems.append(f"val3 nulls {nulls} != {exp['val3_nulls']}")
        box = (col["lon"].min(), col["lon"].max(), col["lat"].min(), col["lat"].max())
        if not all(_close(g, e, 1e-12) for g, e in zip(box, exp["box"])):
            problems.append(f"lon/lat box {box} != {exp['box']}")
        return problems, info


class Cogify:
    name = "cogify"
    size = 512  # 2 × 512² = 0.52 Mpx written per op, 2 overview levels each
    mpx = 2 * size * size / 1e6

    def __init__(self, spark):
        self.spark = spark

    def run_one(self, kind: str, paths: dict[str, str], out: str) -> None:
        from raster2points_spark import cli

        key, flags = COG_ARGS[kind]
        argv = [paths[key], os.path.join(out, kind), "--format", "geotiff",
                "--overviews", "2", *flags]
        # cli.main prints its write manifest; keep stdout for the result
        with contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc} for {kind}")

    def run(self, paths: dict[str, str], out: str) -> None:
        for kind in COG_ARGS:
            self.run_one(kind, paths, out)

    @staticmethod
    def expected(seed: int, size: int) -> dict:
        a = gen.arrays(seed, size)
        exp = {kind: a[key].astype("f8") for kind, (key, _) in COG_ARGS.items()}
        exp["points"] = sum(int((v != gen.AGB_NODATA).sum()) for v in exp.values())
        return exp

    @staticmethod
    def check(exp: dict, out: str) -> tuple[list[str], dict]:
        from raster2points_spark.sources.minitiff import read_header, read_window

        problems = []
        for kind in COG_ARGS:
            path = os.path.join(out, kind, "b1.tif")
            if not os.path.exists(path):
                problems.append(f"{kind}: {path} not written")
                continue
            hdr = read_header(path)
            want = exp[kind]
            if hdr.n_overviews != 2:
                problems.append(f"{kind}: {hdr.n_overviews} overviews, want 2")
            if (hdr.height, hdr.width) != want.shape:
                problems.append(f"{kind}: {hdr.width}x{hdr.height}, want {want.shape[::-1]}")
                continue
            got = np.asarray(read_window(hdr, 0, 0, hdr.width, hdr.height)).reshape(want.shape)
            bad = int((got != want).sum())
            if bad:
                problems.append(f"{kind}: {bad} pixels differ from the source")
        return problems, {"points": 0 if problems else exp["points"]}


WORKLOADS = {w.name: w for w in (Tif2Csv, Cogify)}
