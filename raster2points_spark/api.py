"""Public API — mirrors the reference's two entry points.

reference (reconstructed, SURVEY §0):
    raster2points/raster2points.py::raster2df(*rasters, col_names=None,
        max_block_size=4096, calc_area=False) -> pandas.DataFrame
    raster2points/raster2points.py::raster2csv(*rasters, output, ...)

here:
    raster2df(spark, tiles, bands, ...)  -> pyspark DataFrame (lazy)
    raster2csv(spark, tiles, bands, output, separator=",", ...)

Inputs are tile tables (path or DataFrame) — the scale-native landing
format (see sources/tiles.py) — or, reference-style, GeoTIFF paths
(a ``.tif`` path or a list of them): those convert through the
dependency-free mini reader (sources/minitiff.py — classic TIFF or
BigTIFF, striped or tiled, LZW/deflate/uncompressed, predictor 1/2/3,
single- or multi-band), each file's header parsed once for
validation, band names, dtypes and the tile grid.
Tiling replaces ``max_block_size``: the tile table is
already blocked, and Spark partitioning replaces the reference's
parallelpipe workers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from raster2points_spark.operators.grid import (
    band_dtypes,
    raster2points,
    validate_band_alignment,
)
from raster2points_spark.sources.minitiff import (
    _DTYPE_NAMES,
    MiniTiff,
    _band_names,
    minitiff_to_tiles,
    resolve_headers,
    tiles_from_headers,
)
from raster2points_spark.sources.tiles import read_tiles


def tiles_from_rasters(
    spark: SparkSession,
    paths: list[str],
    tile_size: int | None = None,
    overview_level: int = 0,
) -> DataFrame:
    """GeoTIFF paths → tile table through the pure-Python mini reader
    (classic/BigTIFF, striped or tiled, LZW/deflate/uncompressed,
    PackBits, predictors 1/2/3, sub-byte 1/2/4-bit samples, COG
    overview IFDs), band ids b1..bN positionally across files and
    samples (the reference's multi-raster convention, extended so one
    multi-band file contributes one band per sample).
    ``tile_size=None`` aligns the grid with a tiled file's native tile
    layout (COG access pattern); striped files default to 512.
    ``overview_level=k`` reads the k-th COG overview pyramid level
    instead of full resolution — 1/4^k of the bytes for
    downsample-shaped queries."""
    return minitiff_to_tiles(
        spark, paths, tile_size=tile_size, overview_level=overview_level
    )


def _paths_preflight(
    paths: list[str],
    validate: bool = True,
    spark: SparkSession | None = None,
) -> tuple[list[MiniTiff], dict[str, str]]:
    """Pre-flight for GeoTIFF PATH inputs: the file headers already
    hold everything validate_band_alignment and band_dtypes would
    learn from three Spark jobs, and with an opaque mapInPandas tile
    source those jobs cannot prune to metadata — each one re-runs the
    full Python decode (measured: the eager pre-flight tripled
    scan_geotiff_* wall-clock).

    Returns the full-resolution headers — parsed once, through
    :func:`map_headers`' driver/executor dispatch, and reused for the
    tile grid — and the positional band_id → numpy-dtype-name map.  A
    header the mini reader cannot parse raises its ValueError.
    Validation failures raise, matching validate_band_alignment's
    contract: unequal resolutions or non-co-tiling grids (different
    dims/transform) refuse before any pixel is read."""
    hdrs = resolve_headers(spark, paths)
    if validate:  # validate=False still wants the dtype map, not the raises
        # mixed CRS refuses like mixed resolution: pixel (row, col)
        # grids in different reference systems never co-tile, and a
        # silent zip would join coordinates from different datums.
        # Files WITHOUT a geokey directory (crs None) pass — the
        # pre-geokey layout is CRS-unknown, not CRS-conflicting.
        crss = {h.crs for h in hdrs if h.crs is not None}
        if len(crss) > 1:
            raise ValueError(
                f"rasters carry different CRSs {sorted(crss)} — bands "
                "would zip pixels from different reference systems; "
                "reproject to a common CRS first (raster_reproject_nn "
                "is the in-engine resampler)"
            )
        res = {(h.transform[0], h.transform[4]) for h in hdrs}
        if len(res) > 1:
            raise ValueError(
                f"rasters have unequal resolutions {sorted(res)} — the "
                "reference refuses mixed-resolution inputs; resample to "
                "a common grid first (the raster_mosaic_hetero query is "
                "the composed resample-then-mosaic escape hatch)"
            )
        geo = {(h.width, h.height, tuple(h.transform)) for h in hdrs}
        if len(geo) > 1:
            raise ValueError(
                "rasters do not co-tile (differing dims/transform "
                f"{sorted(geo)}) — bands would zip tiles from different "
                "places; resample to a common grid first"
            )
    out: dict[str, str] = {}
    for hdr, file_bands in zip(hdrs, _band_names(hdrs, None)):
        for b in file_bands:
            out[b] = _DTYPE_NAMES[hdr.dtype.lstrip("<>")]
    return hdrs, out


def raster2df(
    spark: SparkSession,
    tiles: DataFrame | str | list[str],
    bands: list[str],
    col_names: list[str] | None = None,
    calc_area: bool = False,
    max_block_size: int | None = None,
    validate: bool = True,
    dtypes: dict[str, str] | None = None,
    overview_level: int = 0,
) -> DataFrame:
    """Convert raster bands to a point table: band 1 masks (NoData
    rows dropped), bands 2..N contribute nullable value columns,
    coordinates are pixel centers.  Lazy — compose freely before
    writing.  ``validate=True`` (default) runs the reference's eager
    pre-flight: unequal band resolutions or conflicting per-tile
    geometry raise before any pixel is read.  For PATH inputs the
    pre-flight AND the dtype lookup run driver-side off the file
    headers (``_paths_preflight``) — zero Spark jobs, where the
    Spark-side checks against an opaque decode source would each
    re-run the full Python decode.  ``dtypes`` lets a caller that
    built the tile table itself (and therefore knows each band's
    source dtype) skip the metadata lookup job the same way.

    ``max_block_size`` keeps the reference's memory-bound knob
    (``raster2df(..., max_block_size=4096)`` bounded each processing
    window to block² pixels): here it repartitions the tile table so
    each TASK handles ≈ max_block_size² pixels.  The pixel count comes
    from the tile METADATA columns (width·height) — a pruned scan that
    never touches the data arrays.  Default None = let Spark's file
    splits decide (the right answer on a real cluster).

    ``overview_level=k`` (GeoTIFF path inputs only) extracts points
    from the k-th COG pyramid level instead of full resolution —
    1/4^k of the bytes read, transforms scaled to the level, the
    gdal_translate-on-an-overview serving shape.  Alignment and dtype
    pre-flight still run on the full-res headers (levels inherit
    both)."""
    paths = None
    if isinstance(tiles, (list, tuple)):
        paths = list(tiles)
    elif isinstance(tiles, str) and tiles.lower().endswith((".tif", ".tiff")):
        paths = [tiles]
    if paths is not None:
        # raises on misaligned rasters ONLY when validate=True; with
        # validate=False the headers still supply the dtype map
        hdrs, pre = _paths_preflight(paths, validate=validate, spark=spark)
        unknown = [b for b in bands if b not in pre]
        if unknown:
            raise ValueError(
                f"unknown band(s) {unknown} — these files provide "
                f"{sorted(pre)}"
            )
        if dtypes is None:
            dtypes = {b: pre[b] for b in bands}
        validate = False  # already validated driver-side
        if overview_level:
            hdrs = resolve_headers(spark, paths, overview_level=overview_level)
        tdf = tiles_from_headers(spark, hdrs)
    elif overview_level:
        raise ValueError("overview_level is only valid for GeoTIFF path inputs")
    else:
        tdf = read_tiles(spark, tiles) if isinstance(tiles, str) else tiles
    if validate:
        validate_band_alignment(tdf, bands)
    if max_block_size:
        import math

        from pyspark.sql import functions as F

        n_px = (
            tdf.filter(F.col("band_id") == bands[0])
            .agg(F.sum(F.col("width").cast("long") * F.col("height")))
            .first()[0]
            or 0
        )
        parts = max(1, math.ceil(n_px / float(max_block_size) ** 2))
        tdf = tdf.repartition(parts)
    # dtype lookup (metadata-only for columnar tile tables; None for
    # pre-dtype tables) — value columns come out in each band's SOURCE
    # numpy dtype, like the reference's pandas frames (SURVEY §1.1(5))
    if dtypes is None:
        dtypes = band_dtypes(tdf, bands)
    return raster2points(tdf, bands, col_names, calc_area, dtypes=dtypes)


def raster2csv(
    spark: SparkSession,
    tiles: DataFrame | str | list[str],
    bands: list[str],
    output: str,
    col_names: list[str] | None = None,
    calc_area: bool = False,
    separator: str = ",",
    max_block_size: int | None = None,
    validate: bool = True,
    overview_level: int = 0,
) -> None:
    """CSV sink variant (the reference CLI's contract: ``,``/``;``/tab
    separators).  Writes a directory of part files — each task streams
    its partition; no driver-side concat."""
    df = raster2df(
        spark,
        tiles,
        bands,
        col_names,
        calc_area,
        max_block_size,
        validate,
        overview_level=overview_level,
    )
    df.write.mode("overwrite").option("sep", separator).option("header", "true").csv(output)
