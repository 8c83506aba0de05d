"""Layer sweep and query pass of the traced run: each module's public
functions timed on their own, on the same inputs whatever the workload
(this seed's rasters at ``SWEEP_SIZE``, the cogify size, and its query
corpus), so a per-layer figure means the same thing in every traced
run.  One size keeps a traced run well within the 180 s a run may
take; the raster layers' share of a tif2csv op (1024²) is therefore
read from per-pixel cost, not from seconds alone.
"""

from __future__ import annotations

import os
import shutil

import gen
from metrics import QUERY_KEYS
from workloads import BANDS, COG_ARGS, Cogify, Tif2Csv

SWEEP_SIZE = Cogify.size
DECODE_KINDS = {"lzw_u1": "loss", "deflate_u1": "tcd", "deflate_f4": "agb"}
ENCODE_KW = {
    "lzw_u1": ("tcd", dict(dtype="u1", compression="lzw", predictor=1,
                           nodata=gen.TCD_NODATA), 128),
    "deflate_f4": ("agb", dict(dtype="f4", compression="deflate", predictor=3,
                               nodata=gen.AGB_NODATA), gen.TILE),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read_every_tile(tracer, path: str, kind: str) -> tuple[float, int]:
    """Decode every tile of ``path`` on the driver; returns (seconds,
    decoded bytes)."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    hdr = read_header(path)
    bw, bh = hdr.block_width, hdr.block_height
    with tracer.span(f"minitiff.read_window.{kind}") as s:
        for by in range(hdr.blocks_down):
            for bx in range(hdr.blocks_across):
                w = min(bw, hdr.width - bx * bw)
                h = min(bh, hdr.height - by * bh)
                with tracer.span("minitiff.read_window"):
                    read_window(hdr, bx * bw, by * bh, w, h)
    return s["t1"] - s["t0"], hdr.width * hdr.height * hdr.bytes_per_sample


def sweep(spark, tracer, seed: int, paths: dict, side: str, out: str) -> tuple[dict, dict]:
    """``paths`` maps input size -> {"loss", "tcd", "agb"} paths.
    Returns the per-layer metrics and, for each checked op, the
    problems its output check found."""
    from raster2points_spark import api, registry
    from raster2points_spark.operators.grid import grid_unpivot
    from raster2points_spark.sinks.geotiff import encode_geotiff
    from raster2points_spark.sources.minitiff import read_header

    def timed(name, fn, *a, **kw):
        with tracer.span(name) as s:
            fn(*a, **kw)
        return s["t1"] - s["t0"]

    def fastest(name, fn, *a, **kw):
        # the self times below are differences of these calls: the
        # faster of two runs keeps one slow run from turning them negative
        times = []
        for _ in range(2):
            shutil.rmtree(out, ignore_errors=True)
            times.append(timed(name, fn, *a, **kw))
        return min(times)

    m = {}
    m["registry.load_all_s"] = timed("registry.load_all", registry.load_all)

    inp = paths[SWEEP_SIZE]
    files = [inp["loss"], inp["tcd"], inp["agb"]]
    m["minitiff.read_header_s"] = timed("minitiff.read_header", lambda: [read_header(p) for p in files])
    m["minitiff.compressed_bytes"] = sum(sum(read_header(p).byte_counts) for p in files)
    for kind, key in DECODE_KINDS.items():
        sec, nbytes = _read_every_tile(tracer, inp[key], kind)
        m[f"minitiff.read_window_s.{kind}"] = sec
        m[f"minitiff.mb_per_s.{kind}"] = nbytes / 1e6 / sec
    m["minitiff.read_window_s.lzw_f4"] = _read_every_tile(tracer, side, "lzw_f4")[0]

    m["api.tiles_from_rasters_s"] = fastest(
        "api.tiles_from_rasters", lambda: _noop(api.tiles_from_rasters(spark, files)))
    df_s = fastest("api.raster2df", lambda: _noop(api.raster2df(spark, files, BANDS, calc_area=True)))
    csv_s = fastest("api.raster2csv", api.raster2csv, spark, files, BANDS, out, calc_area=True)
    csv_problems, info = Tif2Csv.check(Tif2Csv.expected(seed, SWEEP_SIZE), out)
    m["grid.self_s"] = df_s - m["api.tiles_from_rasters_s"]
    m["sink.csv_self_s"] = csv_s - df_s
    m["sink.csv_bytes"] = info["csv_bytes"]
    m["grid.pixels_in"] = SWEEP_SIZE**2
    m["grid.points_out"] = info["points"]
    m["grid.keep_ratio"] = info["points"] / m["grid.pixels_in"]

    m["grid.grid_unpivot_s"] = timed(
        "grid.grid_unpivot",
        lambda: _noop(grid_unpivot(api.tiles_from_rasters(spark, [inp["tcd"]]))),
    )
    arrays = gen.arrays(seed, SWEEP_SIZE)
    for kind, (key, kw, tile) in ENCODE_KW.items():
        a = arrays[key]
        with tracer.span(f"geotiff.encode.{kind}") as s:
            data, _ = encode_geotiff(
                [a.ravel()], a.shape[1], a.shape[0], tile=(tile, tile), overviews=2,
                pixel_scale=(gen.PIXEL, gen.PIXEL), **kw)
        m[f"geotiff.encode_s.{kind}"] = s["t1"] - s["t0"]
        m[f"geotiff.encoded_bytes.{kind}"] = len(data)

    cog = Cogify(spark)
    shutil.rmtree(out, ignore_errors=True)
    for kind in COG_ARGS:
        m[f"cli.main_s.{kind}"] = timed(f"cli.main.{kind}", cog.run_one, kind, inp, out)
    cog_problems = Cogify.check(Cogify.expected(seed, SWEEP_SIZE), out)[0]
    return m, {"api.raster2csv": csv_problems, "cli.main": cog_problems}


def _oracles(corpus: str, sql: dict[str, str]) -> dict:
    """Key -> the rows DuckDB returns for its oracle SQL on ``corpus``
    (or the exception it raised)."""
    import duckdb

    from raster2points_spark.io import TABLES

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")  # it writes to stdout
    for t in TABLES:
        path = os.path.join(corpus, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for key, q in sql.items():
        try:
            out[key] = con.execute(q).df()
        except Exception as e:
            out[key] = e
    con.close()
    return out


def query_pass(spark, tracer, counters, corpus: str) -> tuple[dict, dict]:
    """Every key of ``QUERY_KEYS`` once on the parquet tables in
    ``corpus``, in a job group of its own: collecting the key's rows to
    the driver is timed, then, untimed, the rows are compared with what
    its DuckDB oracle returns.  A key is timed on its first run in the
    process (a JVM warmed by the raster ops, a cold plan): a warm-up
    pass would add half a minute to a traced run, which must end within
    the 180 s a run may take.  Spark's cache is cleared before each
    key, outside the clock; the storage a key leaves held is read
    before that.  Returns the metrics and, for each key, the problems
    the oracle comparison found."""
    from raster2points_spark.registry import load_all
    from tools.diff_oracle import compare

    specs = load_all()
    m, got, held = {}, {}, 0
    for key in QUERY_KEYS:
        spark.catalog.clearCache()
        gid = counters.start_group()
        with tracer.span(f"q.{key}") as s:
            try:
                got[key] = specs[key].fn(spark, corpus).toPandas()
            except Exception as e:  # reported as the key's problem
                got[key] = e
        m[f"q.{key}_s"] = s["t1"] - s["t0"]
        m[f"q.{key}.jobs"] = counters.group_stats(gid)["spark.jobs"]
        held = max(held, counters.cached_bytes())
    spark.catalog.clearCache()
    m["cache.bytes_held"] = held

    want = _oracles(corpus, {k: specs[k].oracle for k in QUERY_KEYS})
    problems = {}
    for key in QUERY_KEYS:
        bad = [x for x in (got[key], want[key]) if isinstance(x, Exception)]
        if bad:
            problems[key] = [f"{type(bad[0]).__name__}: {bad[0]}"]
        else:
            problems[key] = compare(key, got[key], want[key])
    return m, problems
