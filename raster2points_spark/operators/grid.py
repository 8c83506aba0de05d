"""Raster→points core operators (SURVEY.md §2.2).

The reference's dataflow (raster2points/raster2points.py::raster2df —
reconstructed; /root/reference was empty, SURVEY §0) is:

    windows → read block → mask NoData (band 1) → affine lon/lat →
    read bands 2..N for same window → [geodesic area] → pandas chunk →
    concat / CSV append

Here each stage is a DataFrame transformation over the tile table
(§1.2 schema: one row per tile, dense payload as array<double>), so
Catalyst pipelines the whole thing per-partition — the "chunked
streaming" the reference hand-codes with parallelpipe workers is just
Spark partition execution.  Nothing ever materializes a full raster:
at 100 TB the tile table is millions of rows, and every operator here
is embarrassingly parallel per tile except the multi-band zip, which
is an equi-join on (tile_id, pos) — co-partitionable by tile_id
(bucketed layout at scale ⇒ shuffle-free).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: WGS84 semi-major axis, metres — radius used for geodesic pixel area.
WGS84_RADIUS = 6378137.0

TILE_COLS = (
    "band_id",
    "tile_id",
    "col_off",
    "row_off",
    "width",
    "height",
    "transform",
    "nodata",
    "dtype",
    "data",
)

#: numpy source dtype → narrowest Spark SQL type that holds it.  The
#: tile payload travels as array<double> (the container type); value
#: columns are cast back so e.g. a uint8 land-cover raster emits an
#: integer column, not 8×-inflated doubles (reference keeps per-raster
#: numpy dtypes in its pandas output — SURVEY §1.1(5)/§1.2).
NUMPY_TO_SPARK_DTYPE = {
    "int8": "tinyint",
    "uint8": "smallint",
    "int16": "smallint",
    "uint16": "int",
    "int32": "int",
    "uint32": "bigint",
    "int64": "bigint",
    "float32": "float",
    "float64": "double",
}


def band_dtypes(tiles: DataFrame, bands: list[str]) -> dict[str, str] | None:
    """Per-band source dtype from tile METADATA (pruned scan of two
    columns, one tiny collect — never touches the payload).  Returns
    None when the table predates the ``dtype`` column.  Raises if a
    band is declared with conflicting dtypes (corrupt table) or an
    unknown dtype name."""
    if "dtype" not in tiles.columns:
        return None
    rows = (
        tiles.filter(F.col("band_id").isin(list(bands)))
        .select("band_id", "dtype")
        .distinct()
        .collect()
    )
    out: dict[str, str] = {}
    for r in rows:
        if r.band_id in out and out[r.band_id] != r.dtype:
            raise ValueError(
                f"band {r.band_id!r} declares conflicting dtypes "
                f"({out[r.band_id]!r} vs {r.dtype!r})"
            )
        if r.dtype not in NUMPY_TO_SPARK_DTYPE:
            raise ValueError(f"band {r.band_id!r} has unknown dtype {r.dtype!r}")
        out[r.band_id] = r.dtype
    return out


def validate_band_alignment(tiles: DataFrame, bands: list[str]) -> None:
    """Reference parity: raster2df refuses rasters of unequal
    resolution before reading any pixel (reconstructed
    raster2points/raster2points.py::raster2df — it validates resolution
    and intersects extents up front).  Here the equivalent is two
    METADATA-ONLY aggregations over the tile table (payload column
    never scanned; column pruning keeps this a few-KB job):

    1. every requested band carries exactly ONE (dx, dy) resolution,
       and all bands agree;
    2. a tile_id shared by several bands has identical geometry
       (col_off, row_off, width, height, transform) in each — a silent
       positional-zip of differently-placed tiles would produce wrong
       points, so it is an error, not a NULL.

    Tiles entirely MISSING from a secondary band are fine (the
    documented keep-with-NULL contract); only conflicting geometry
    raises.
    """
    sel = tiles.filter(F.col("band_id").isin(list(bands)))
    res = (
        sel.select(
            "band_id",
            F.col("transform")[0].alias("dx"),
            F.col("transform")[4].alias("dy"),
        )
        .distinct()
        .collect()
    )
    per_band: dict[str, set] = {}
    for r in res:
        per_band.setdefault(r.band_id, set()).add((r.dx, r.dy))
    for b, s in sorted(per_band.items()):
        if len(s) > 1:
            raise ValueError(f"band {b!r} mixes pixel resolutions: {sorted(s)}")
    distinct_res = {next(iter(s)) for s in per_band.values()}
    if len(distinct_res) > 1:
        raise ValueError(
            "bands have unequal resolutions: "
            + ", ".join(f"{b}={next(iter(s))}" for b, s in sorted(per_band.items()))
        )
    bad = (
        sel.groupBy("tile_id")
        .agg(
            F.countDistinct(
                F.struct(
                    "col_off", "row_off", "width", "height", F.col("transform").cast("string")
                )
            ).alias("n_geom")
        )
        .filter(F.col("n_geom") > 1)
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"tile {bad[0].tile_id} has conflicting geometry across bands "
            f"{sorted(per_band)} — bands must be co-tiled (same offsets/size/"
            "transform per tile_id)"
        )


def grid_unpivot(tiles: DataFrame) -> DataFrame:
    """Dense→sparse melt: explode each tile's row-major payload into
    one row per pixel with absolute (row, col) plus the value, NoData
    mapped to NULL (Spark-native null beats carrying a sentinel).

    Mirrors the per-window ``np.where``/flatten step of the reference
    (::raster2df), as a single JVM-side posexplode — no Python.
    """
    ex = tiles.select(
        "band_id",
        "tile_id",
        "col_off",
        "row_off",
        "width",
        "transform",
        "nodata",
        F.posexplode("data").alias("pos", "raw"),
    )
    return ex.select(
        "band_id",
        "tile_id",
        "pos",
        "transform",
        (F.col("col_off") + F.col("pos") % F.col("width")).alias("col"),
        (F.col("row_off") + F.floor(F.col("pos") / F.col("width")).cast("int")).alias("row"),
        F.when(F.col("raw") == F.col("nodata"), F.lit(None)).otherwise(F.col("raw")).alias(
            "value"
        ),
    )


def nodata_filter(pixels: DataFrame, value_col: str = "value") -> DataFrame:
    """Band-1 mask: a pixel becomes an output row iff its mask-band
    value is valid (reference semantics: first raster is the mask)."""
    return pixels.filter(F.col(value_col).isNotNull())


def affine_lon(transform: Column, col: Column, row: Column) -> Column:
    """lon = c + (col+0.5)·a + (row+0.5)·b  (pixel-CENTER, like
    rasterio.transform.xy(..., offset='center') in the reference)."""
    return transform[2] + (col + 0.5) * transform[0] + (row + 0.5) * transform[1]


def affine_lat(transform: Column, col: Column, row: Column) -> Column:
    """lat = f + (col+0.5)·d + (row+0.5)·e."""
    return transform[5] + (col + 0.5) * transform[3] + (row + 0.5) * transform[4]


def affine_coords(pixels: DataFrame) -> DataFrame:
    c, r, tf = F.col("col"), F.col("row"), F.col("transform")
    return pixels.withColumn("lon", affine_lon(tf, c, r)).withColumn(
        "lat", affine_lat(tf, c, r)
    )


def geodesic_area(lat: Column, transform: Column) -> Column:
    """Geodesic pixel area in m² — pure function of latitude (the
    reference computes one area per row of pixels; same formula here,
    applied per pixel):

        area = |Δlon_rad| · R² · |sin(lat + |Δlat|/2) − sin(lat − |Δlat|/2)|

    with R the WGS84 semi-major axis and Δlon/Δlat the pixel size
    from the affine transform.
    """
    dlon = F.abs(transform[0])
    half_dlat = F.abs(transform[4]) / 2
    r2 = F.lit(WGS84_RADIUS * WGS84_RADIUS)
    return (
        F.radians(dlon)
        * r2
        * F.abs(F.sin(F.radians(lat + half_dlat)) - F.sin(F.radians(lat - half_dlat)))
    )


def geodesic_area_py(lat: float, dlon: float, dlat: float) -> float:
    """Driver-side twin of :func:`geodesic_area` for golden tests."""
    r2 = WGS84_RADIUS * WGS84_RADIUS
    return abs(
        math.radians(abs(dlon))
        * r2
        * (math.sin(math.radians(lat + abs(dlat) / 2)) - math.sin(math.radians(lat - abs(dlat) / 2)))
    )


def raster2points(
    tiles: DataFrame,
    bands: list[str],
    col_names: list[str] | None = None,
    calc_area: bool = False,
    extra_cols: tuple[str, ...] = (),
    dtypes: dict[str, str] | None = None,
) -> DataFrame:
    """Full reference pipeline over a tile table: band 1 masks, bands
    2..N contribute nullable value columns, output
    (lon, lat, val…[, area][, extra_cols]).

    Equivalent of raster2points/raster2points.py::raster2df
    (reconstructed), Spark-first and shuffle-minimal: bands are zipped
    at TILE granularity (an equi-join of narrow dense rows on tile_id —
    64 rows join 64 rows, broadcastable at any band count), then ONE
    posexplode of the arrays_zip'd payloads melts all bands together.
    The per-pixel stream is never shuffled: mask, affine, area and the
    sink all pipeline inside the same stage.  (The reference requires
    equal resolution across rasters, so co-tiling is a precondition,
    exactly as there.)

    ``dtypes`` maps band_id → source numpy dtype name; matching value
    columns are cast from the float64 container type back to the
    narrowest Spark type (see NUMPY_TO_SPARK_DTYPE) so output schemas
    stay faithful to the source rasters.
    """
    if not bands:
        raise ValueError("need at least one band")
    names = col_names or [f"val{i+1}" for i in range(len(bands))]
    if len(names) != len(bands):
        raise ValueError("col_names must match bands")

    joined = tiles.filter(F.col("band_id") == bands[0]).select(
        "tile_id",
        "col_off",
        "row_off",
        "width",
        "transform",
        F.col("nodata").alias("nd0"),
        F.col("data").alias("d0"),
    )
    for i, b in enumerate(bands[1:], 1):
        other = tiles.filter(F.col("band_id") == b).select(
            "tile_id", F.col("nodata").alias(f"nd{i}"), F.col("data").alias(f"d{i}")
        )
        joined = joined.join(other, "tile_id", "left")

    # A tile entirely absent from a secondary band leaves d{i} NULL, and
    # arrays_zip(d0, NULL) is NULL — posexplode would then emit ZERO
    # rows, silently dropping every band-1 pixel of that tile.  Coalesce
    # each missing payload to an all-NULL array of the mask band's
    # length so the contract holds: NoData/absence in bands 2..N keeps
    # the row with NULL.
    zip_cols = [F.col("d0")] + [
        F.coalesce(
            F.col(f"d{i}"), F.expr("array_repeat(cast(null AS double), size(d0))")
        ).alias(f"d{i}")
        for i in range(1, len(bands))
    ]
    ex = joined.select(
        "tile_id",
        "col_off",
        "row_off",
        "width",
        "transform",
        *[F.col(f"nd{i}") for i in range(len(bands))],
        F.posexplode(F.arrays_zip(*zip_cols)).alias("pos", "z"),
    )
    vals = []
    for i, (b, name) in enumerate(zip(bands, names)):
        raw = F.col("z")[f"d{i}"]
        v = F.when(raw == F.col(f"nd{i}"), F.lit(None)).otherwise(raw)
        # NoData compare happens in the container type (double), THEN
        # the survivor is cast back to the band's source dtype
        if dtypes and b in dtypes:
            v = v.cast(NUMPY_TO_SPARK_DTYPE[dtypes[b]])
        vals.append(v.alias(name))
    px = ex.select(
        "tile_id",
        "transform",
        (F.col("col_off") + F.col("pos") % F.col("width")).alias("col"),
        (F.col("row_off") + F.floor(F.col("pos") / F.col("width")).cast("int")).alias("row"),
        *vals,
    )
    px = px.filter(F.col(names[0]).isNotNull())
    px = affine_coords(px)
    out_cols = ["lon", "lat", *names]
    if calc_area:
        px = px.withColumn("area", geodesic_area(F.col("lat"), F.col("transform")))
        out_cols.append("area")
    return px.select(*out_cols, *extra_cols)
