"""§2.1 scan_tiles + §2.2 raster→points core, oracle-checked.

The DuckDB oracle reads the SAME grid fixture parquet (committed
under fixtures/grid/) and melts it with zipped unnests — positions
via unnest(generate_series(...)) zipped against unnest(data), DuckDB's
equivalent of posexplode.  Affine expressions are written with
identical association on both sides so doubles match bitwise; only
the libm-dependent area is rounded.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from raster2points_spark.operators.grid import (
    affine_coords,
    geodesic_area,
    grid_unpivot,
    nodata_filter,
    raster2points,
)
from raster2points_spark.io import local_df
from raster2points_spark.registry import register
from raster2points_spark.sources.tiles import ensure_grid_fixtures, read_tiles
from raster2points_spark.queries._util import GRID_DIR

ensure_grid_fixtures(GRID_DIR)
GRID64 = f"{GRID_DIR}/grid64.parquet"

# DuckDB twin of operators.grid.grid_unpivot (1-indexed lists):
# pos zipped with value via parallel unnest; nodata → NULL.
_PX = f"""
    WITH px AS (
        SELECT band_id, tile_id, col_off, row_off, width, transform,
               unnest(generate_series(0, len(data) - 1)) AS pos,
               unnest(list_transform(data, v -> CASE WHEN v = nodata THEN NULL ELSE v END)) AS value
        FROM read_parquet('{GRID64}')
    ),
    pix AS (
        SELECT band_id, tile_id, pos, transform, value,
               col_off + pos % width AS col,
               row_off + cast(floor(pos / width) AS int) AS row
        FROM px
    )
"""


def _tiles(spark, sf_dir):
    return read_tiles(spark, GRID64)


def _probe_tiles(spark, sf_dir):
    """Decade-probe seam (tools/scale_probe.py --xraster): the heavy
    grid keys read their tile source and pid-packing width from env
    when set — unset (every oracle/determinism gate, the driver, and
    bench) this is exactly GRID64 / width 64, so shipped results are
    untouched.  The width rides with the grid because
    pid = row·W + col must stay collision-free (col < W)."""
    import os

    p = os.environ.get("SPARK_GRAFT_RASTER_GRID")
    if p:
        return read_tiles(spark, p), int(os.environ["SPARK_GRAFT_RASTER_W"])
    return _tiles(spark, sf_dir), 64


@register(
    "scan_tiles",
    oracle=f"""
    SELECT band_id, count(*) AS n_tiles, cast(sum(len(data)) AS bigint) AS n_pixels,
           cast(sum(width) AS bigint) AS sum_w, cast(sum(height) AS bigint) AS sum_h
    FROM read_parquet('{GRID64}')
    GROUP BY band_id
    """,
)
def scan_tiles(spark, sf_dir):
    """Tile-table source sanity: per-band tile/pixel counts.  Reads
    only 4 columns — column pruning keeps the (huge) payload column
    out of queries that don't need it... except n_pixels, which uses
    size(data) without exploding."""
    tl = _tiles(spark, sf_dir)
    return tl.groupBy("band_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(F.size("data")).alias("n_pixels"),
        F.sum("width").alias("sum_w"),
        F.sum("height").alias("sum_h"),
    )


@register(
    "scan_geotiff_mini",
    oracle="""
    SELECT lon, lat, elev, slope FROM (VALUES
        (10.25, 44.75, 1.0, 10.0),
        (10.75, 44.75, 2.0, CAST(NULL AS double)),
        (11.75, 44.75, 4.0, 40.0),
        (10.25, 44.25, 5.0, 50.0),
        (10.75, 44.25, 6.0, 60.0),
        (11.25, 44.25, 7.0, 70.0),
        (11.75, 44.25, 8.0, 80.0)
    ) AS t(lon, lat, elev, slope)
    """,
)
def scan_geotiff_mini(spark, sf_dir):
    """[r10] The reference's ACTUAL front door, driver-checked: a real
    GeoTIFF file (committed golden fixture fixtures/tif/stack2.tif —
    tiled 4x4, deflate-compressed, TWO bands in one file) ingests
    through the dependency-free mini reader into the full
    raster2df pipeline: header parse → tile grid → mapInPandas
    window decode → melt → band-1 nodata mask → pixel-center affine
    coords → band zip.  The oracle is the 7-point golden answer as a
    VALUES literal (DuckDB cannot read TIFFs; the fixture is
    byte-stable via tools/make_tif.py, so the literal IS the file's
    content), making TIFF decode + mask + affine parity a standing
    hash-checked gate rather than a unit test only.

    reference parity: raster2df("elev.tif", "slope.tif") semantics
    off one multi-band stack (SURVEY §1.1); scale shape: one metadata
    row per file tile, each executor task decompresses exactly its
    own tile's byte range (the COG access pattern)."""
    import os as _os

    from raster2points_spark.api import raster2df
    from raster2points_spark.queries._util import REPO_ROOT

    tif = _os.path.join(REPO_ROOT, "fixtures", "tif", "stack2.tif")
    return raster2df(spark, [tif], bands=["b1", "b2"], col_names=["elev", "slope"])


@register(
    "scan_geotiff_overview",
    oracle="""
    WITH fr AS (
        SELECT r.r AS row, c.c AS col, CAST(r.r * 8 + c.c AS double) AS v
        FROM (SELECT unnest(generate_series(0, 3)) AS r) r
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS c) c
    ),
    ds AS (
        SELECT cast(floor(row / 2) AS int) AS row, cast(floor(col / 2) AS int) AS col,
               avg(v) AS value
        FROM fr GROUP BY 1, 2
    )
    SELECT row, col,
           round(10.0 + (col + 0.5) * 1.0 + (row + 0.5) * 0.0, 9) AS lon,
           round(45.0 + (col + 0.5) * 0.0 + (row + 0.5) * -1.0, 9) AS lat,
           value
    FROM ds
    """,
)
def scan_geotiff_overview(spark, sf_dir):
    """[r11] COG overview IFD read, driver-checked: the committed
    pyramid fixture (fixtures/tif/pyramid.tif — 8x4 full-res + GDAL-
    style overview IFDs carrying NO geo tags: level 1 is 4x2 TILED 2x2
    deflate, level 2 is 2x1 striped) ingests its LEVEL-1 overview via
    ``minitiff_to_tiles(overview_level=1)`` → unpivot → pixel-center
    affine coords.  The oracle computes full-resolution-then-2x2-
    average-downsample from the full-res content (the fixture's
    overview levels are box means, the GDAL "average" convention) with
    the SCALED transform — so a hash match proves overview-read ≡
    full-res-then-downsample AND the inherited-transform scaling in
    one gate.

    Scale shape: a downsample-shaped query that reads the overview
    touches 1/4 of the bytes per pyramid level instead of decimating
    full-res pixels — the cheap decade lever at 100 TB; the job shape
    is unchanged (driver header pass, executors decode only their own
    overview tiles)."""
    import os as _os

    from raster2points_spark.sources.minitiff import minitiff_to_tiles
    from raster2points_spark.queries._util import REPO_ROOT

    tif = _os.path.join(REPO_ROOT, "fixtures", "tif", "pyramid.tif")
    px = affine_coords(grid_unpivot(minitiff_to_tiles(spark, [tif], overview_level=1)))
    return px.select(
        "row",
        "col",
        F.round("lon", 9).alias("lon"),
        F.round("lat", 9).alias("lat"),
        "value",
    )


@register(
    "scan_geotiff_mask1bit",
    oracle="""
    SELECT lon, lat, CAST(mask AS smallint) AS mask, elev FROM (VALUES
        (10.25, 44.75, 1, 1.0),
        (10.75, 44.75, 1, 2.0),
        (11.25, 44.75, 1, CAST(NULL AS double)),
        (10.25, 44.25, 1, 5.0),
        (11.25, 44.25, 1, 7.0),
        (11.75, 44.25, 1, 8.0)
    ) AS t(lon, lat, mask, elev)
    """,
)
def scan_geotiff_mask1bit(spark, sf_dir):
    """[r11] 1-bit mask raster as raster #1, driver-checked: the
    committed bilevel fixture (fixtures/tif/mask1.tif —
    BitsPerSample=1, MSB-first row-aligned bit pack, GDAL_NODATA=0)
    drives the reference's mask-first chain end-to-end with elev.tif
    as the value raster: mask zeros (pixels 3, 5) DROP rows, elev's
    own nodata (pixel 2, -9999) stays as NULL — both reference
    semantics in one 6-row golden answer (VALUES oracle; the fixture
    is byte-stable via tools/make_tif.py).  The mask column lands as
    smallint because uint8 is the mask's SOURCE dtype (dtype
    preservation, SURVEY §1.1(5)).

    reference parity: raster2df("mask.tif", "elev.tif") where the
    mask ships 1-bit — its most common real-world encoding."""
    import os as _os

    from raster2points_spark.api import raster2df
    from raster2points_spark.queries._util import REPO_ROOT

    mask = _os.path.join(REPO_ROOT, "fixtures", "tif", "mask1.tif")
    elev = _os.path.join(REPO_ROOT, "fixtures", "tif", "elev.tif")
    return raster2df(spark, [mask, elev], bands=["b1", "b2"], col_names=["mask", "elev"])


@register(
    "scan_geotiff_sparse",
    oracle="""
    SELECT lon, lat, CAST(mask AS smallint) AS mask, elev FROM (VALUES
        (10.25, 44.75, 1, 1.0),
        (11.25, 44.75, 1, 3.0),
        (11.75, 44.75, 1, 4.0),
        (10.25, 44.25, 1, 5.0),
        (10.75, 44.25, 1, 6.0),
        (11.75, 44.25, 1, 8.0),
        (10.25, 43.75, 1, 9.0),
        (10.75, 43.75, 1, 10.0),
        (11.25, 43.75, 1, CAST(NULL AS double)),
        (10.25, 43.25, 1, 13.0),
        (10.75, 43.25, 1, 14.0),
        (11.75, 43.25, 1, CAST(NULL AS double))
    ) AS t(lon, lat, mask, elev)
    """,
)
def scan_geotiff_sparse(spark, sf_dir):
    """[r12] Sparse tiles + internal mask SubIFD, driver-checked: the
    committed fixture (fixtures/tif/sparse_mask.tif — 4x4 tiled 2x2
    deflate) ships BOTH remaining common COG layouts the front door
    previously rejected: the all-nodata bottom-right tile is stored
    SPARSE (TileOffsets=0, GDAL SPARSE_OK — synthesized as nodata with
    ZERO bytes read), and a 1-bit FILETYPE_MASK SubIFD (tag 330, the
    GDAL .msk-in-file convention) zeroes four pixels.  The internal
    mask is read as its own tile band (``internal_mask=True``,
    nodata=0 by mask contract, transform inherited from the parent
    IFD) on the image's 2x2 grid, unioned with the image band, and the
    standard mask-first chain runs unchanged: mask zeros DROP rows —
    including two that fall over the sparse tile — while the surviving
    sparse pixels stay as NULL elev.  Golden 12-point VALUES oracle
    (fixture byte-stable via tools/make_tif.py).

    reference parity: raster2df(mask, values) where the mask ships
    inside the value file; scale shape: sparse oceans/deserts in a
    100 TB mosaic cost no I/O at all, and the mask union adds narrow
    tile rows joined at tile granularity (broadcastable), never a
    per-pixel shuffle."""
    import os as _os

    from raster2points_spark.api import raster2df
    from raster2points_spark.sources.minitiff import minitiff_to_tiles
    from raster2points_spark.queries._util import REPO_ROOT

    tif = _os.path.join(REPO_ROOT, "fixtures", "tif", "sparse_mask.tif")
    # both bands on the image's native 2x2 grid so tile_ids co-tile
    # (the mask SubIFD is striped; tile_size pins a common window grid)
    mask_t = minitiff_to_tiles(
        spark, [tif], band_ids=["mask"], tile_size=2, internal_mask=True
    )
    img_t = minitiff_to_tiles(spark, [tif], band_ids=["elev"], tile_size=2)
    # both bands come from ONE file on ONE explicit grid, so co-tiling
    # holds by construction and the source dtypes are known from the
    # headers — skip the Spark-side metadata jobs (each would re-run
    # the Python decode through the opaque mapInPandas source)
    return raster2df(
        spark,
        mask_t.unionByName(img_t),
        bands=["mask", "elev"],
        col_names=["mask", "elev"],
        validate=False,
        dtypes={"mask": "uint8", "elev": "float64"},
    )


@register(
    "grid_unpivot",
    oracle=f"""
    {_PX}
    SELECT band_id, tile_id, pos, row, col, value FROM pix
    """,
)
def grid_unpivot_q(spark, sf_dir):
    """Dense→sparse melt of every band (values incl. NULLs — the mask
    is a separate operator)."""
    return grid_unpivot(_tiles(spark, sf_dir)).select(
        "band_id", "tile_id", "pos", "row", "col", "value"
    )


@register(
    "nodata_filter",
    oracle=f"""
    {_PX}
    SELECT band_id, count(*) AS n_valid, round(sum(value), 3) AS sum_valid
    FROM pix WHERE value IS NOT NULL
    GROUP BY band_id
    """,
)
def nodata_filter_q(spark, sf_dir):
    px = nodata_filter(grid_unpivot(_tiles(spark, sf_dir)))
    return px.groupBy("band_id").agg(
        F.count("*").alias("n_valid"), F.round(F.sum("value"), 3).alias("sum_valid")
    )


@register(
    "affine_coords",
    oracle=f"""
    {_PX}
    SELECT tile_id, row, col, value,
           round(transform[3] + (col + 0.5) * transform[1] + (row + 0.5) * transform[2], 9) AS lon,
           round(transform[6] + (col + 0.5) * transform[4] + (row + 0.5) * transform[5], 9) AS lat
    FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    """,
)
def affine_coords_q(spark, sf_dir):
    """Pixel→geo projection of the masked band (pixel centers)."""
    px = nodata_filter(grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1")))
    px = affine_coords(px)
    return px.select(
        "tile_id",
        "row",
        "col",
        "value",
        F.round("lon", 9).alias("lon"),
        F.round("lat", 9).alias("lat"),
    )


@register(
    "band_zip_join",
    oracle=f"""
    {_PX}
    SELECT b1.tile_id, b1.row, b1.col, b1.value AS val1, b2.value AS val2
    FROM (SELECT * FROM pix WHERE band_id = 'b1' AND value IS NOT NULL) b1
    LEFT JOIN (SELECT * FROM pix WHERE band_id = 'b2') b2
      ON b1.tile_id = b2.tile_id AND b1.pos = b2.pos
    """,
)
def band_zip_join_q(spark, sf_dir):
    """Positional multi-band alignment; band-2 NoData keeps the row
    with NULL (reference contract)."""
    tl = _tiles(spark, sf_dir)
    b1 = nodata_filter(grid_unpivot(tl.filter(F.col("band_id") == "b1")))
    b2 = grid_unpivot(tl.filter(F.col("band_id") == "b2"))
    return b1.join(
        b2.select("tile_id", "pos", F.col("value").alias("val2")), ["tile_id", "pos"], "left"
    ).select("tile_id", "row", "col", F.col("value").alias("val1"), "val2")


@register(
    "geodesic_area",
    oracle=f"""
    {_PX}
    SELECT tile_id, row, col,
           round(
             radians(abs(transform[1])) * 40680631590769.0 *
             abs(sin(radians((transform[6] + (col + 0.5) * transform[4] + (row + 0.5) * transform[5]) + abs(transform[5]) / 2))
               - sin(radians((transform[6] + (col + 0.5) * transform[4] + (row + 0.5) * transform[5]) - abs(transform[5]) / 2))),
             0) AS area_m2
    FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    """,
)
def geodesic_area_q(spark, sf_dir):
    """WGS84 pixel area (R² = 6378137² = 40680631590769).  Rounded to
    whole m² — sin() differs between JVM and libm in the last ulp."""
    px = affine_coords(
        nodata_filter(grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1")))
    )
    return px.select(
        "tile_id",
        "row",
        "col",
        F.round(geodesic_area(F.col("lat"), F.col("transform")), 0).alias("area_m2"),
    )


@register(
    "col_rename",
    oracle=f"""
    {_PX}
    SELECT b1.tile_id, b1.row, b1.col, b1.value AS elevation, b2.value AS slope
    FROM (SELECT * FROM pix WHERE band_id = 'b1' AND value IS NOT NULL) b1
    LEFT JOIN (SELECT * FROM pix WHERE band_id = 'b2') b2
      ON b1.tile_id = b2.tile_id AND b1.pos = b2.pos
    """,
)
def col_rename_q(spark, sf_dir):
    """User-supplied column names (reference ``col_names`` param)."""
    tl = _tiles(spark, sf_dir)
    b1 = nodata_filter(grid_unpivot(tl.filter(F.col("band_id") == "b1")))
    b2 = grid_unpivot(tl.filter(F.col("band_id") == "b2"))
    return b1.join(
        b2.select("tile_id", "pos", F.col("value").alias("slope")), ["tile_id", "pos"], "left"
    ).select("tile_id", "row", "col", F.col("value").alias("elevation"), "slope")


@register(
    "chunk_union",
    oracle=f"""
    {_PX}
    SELECT count(*) AS n, round(sum(value), 3) AS s FROM (
        SELECT value FROM pix WHERE band_id = 'b1' AND value IS NOT NULL AND tile_id < 8
        UNION ALL
        SELECT value FROM pix WHERE band_id = 'b1' AND value IS NOT NULL AND tile_id >= 8
    )
    """,
)
def chunk_union_q(spark, sf_dir):
    """The reference's chunked pd.concat, relationalized: unionAll of
    per-chunk results is free in Spark (partitions concatenate
    logically; no data moves)."""
    px = nodata_filter(grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1")))
    lo = px.filter(F.col("tile_id") < 8).select("value")
    hi = px.filter(F.col("tile_id") >= 8).select("value")
    return lo.unionAll(hi).agg(F.count("*").alias("n"), F.round(F.sum("value"), 3).alias("s"))


@register(
    "tile_stats",
    oracle=f"""
    {_PX}
    SELECT band_id, tile_id,
           count(value) AS n_valid,
           round(min(value), 3) AS min_v,
           round(max(value), 3) AS max_v,
           round(avg(value), 3) AS mean_v
    FROM pix GROUP BY band_id, tile_id
    """,
)
def tile_stats_q(spark, sf_dir):
    """Per-tile aggregate — the building block for raster overview /
    pyramid levels at scale."""
    px = grid_unpivot(_tiles(spark, sf_dir))
    return px.groupBy("band_id", "tile_id").agg(
        F.count("value").alias("n_valid"),
        F.round(F.min("value"), 3).alias("min_v"),
        F.round(F.max("value"), 3).alias("max_v"),
        F.round(F.avg("value"), 3).alias("mean_v"),
    )


# --- bench-scale raster pipeline (512×512, ~157k masked points) -------------

from raster2points_spark.sources.tiles import ensure_scratch_grid
from raster2points_spark.queries._util import SCRATCH

GRIDBIG = ensure_scratch_grid(SCRATCH)

_PX_BIG = _PX.replace(GRID64, GRIDBIG)

_AREA_SQL_BIG = (
    "radians(abs(transform[1])) * 40680631590769.0 * "
    "abs(sin(radians((transform[6] + (col + 0.5) * transform[4] + (row + 0.5) * transform[5])"
    " + abs(transform[5]) / 2)) - "
    "sin(radians((transform[6] + (col + 0.5) * transform[4] + (row + 0.5) * transform[5])"
    " - abs(transform[5]) / 2)))"
)


@register(
    "raster_big",
    oracle=f"""
    {_PX_BIG}
    SELECT b1.tile_id, count(*) AS n_pts,
           cast(sum(cast(round(b1.value * 1000, 0) AS bigint)) AS bigint) AS sum_v1_milli,
           cast(sum(cast(round(b2.value * 1000, 0) AS bigint)) AS bigint) AS sum_v2_milli,
           cast(sum(CASE WHEN b2.value IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_null2,
           round(sum({_AREA_SQL_BIG.replace('transform', 'b1.transform').replace('col', 'b1.col').replace('row', 'b1.row')}), 0) AS sum_area
    FROM (SELECT * FROM pix WHERE band_id = 'b1' AND value IS NOT NULL) b1
    LEFT JOIN (SELECT * FROM pix WHERE band_id = 'b2') b2
      ON b1.tile_id = b2.tile_id AND b1.pos = b2.pos
    GROUP BY b1.tile_id
    """,
)
def raster_big(spark, sf_dir):
    """Full reference pipeline at bench scale: 512×512 px (64 tiles),
    mask → affine → band-zip → geodesic area → per-tile rollup.
    This is the throughput proxy for 'matches-or-beats the reference':
    ~157k masked points through every §2.2 stage in one pipelined plan
    (one shuffle for the zip join, one for the rollup)."""
    # the fixture is ONE parquet file -> 1 input partition; spread the
    # tiles across tasks before the explode (at 100 TB the tile table
    # is many files/row-groups and this repartition disappears — here
    # it moves ~5 MB once and parallelizes the 524k-pixel melt 32-way)
    tl = read_tiles(spark, GRIDBIG).repartition(32, "tile_id")
    pts = raster2points(tl, ["b1", "b2"], calc_area=True, extra_cols=("tile_id",))
    area = F.col("area")
    return pts.groupBy("tile_id").agg(
        F.count("*").alias("n_pts"),
        # payloads are exact 3-decimals: sum in integer milli-units so
        # the aggregate is order-independent and exactly comparable (R1)
        F.sum(F.round(F.col("val1") * 1000, 0).cast("long")).alias("sum_v1_milli"),
        F.sum(F.round(F.col("val2") * 1000, 0).cast("long")).alias("sum_v2_milli"),
        F.sum(F.when(F.col("val2").isNull(), 1).otherwise(0)).alias("n_null2"),
        F.round(F.sum(area), 0).alias("sum_area"),
    )


@register(
    "spatial_join_grid",
    oracle=f"""
    {_PX}
    , pts AS (
        SELECT tile_id, col, row, value FROM pix
        WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    sites AS (
        SELECT tile_id AS site_tile, pos,
               transform[3] + (col + 0.5) * transform[1] AS lon,
               transform[6] + (row + 0.5) * transform[5] AS lat,
               transform
        FROM pix WHERE band_id = 'b2' AND pos % 11 = 0
    ),
    celled AS (
        SELECT site_tile, pos, lon, lat,
               cast(floor((lon - transform[3]) / transform[1]) AS int) AS cell_col,
               cast(floor((lat - transform[6]) / transform[5]) AS int) AS cell_row
        FROM sites
    )
    SELECT c.site_tile, count(*) AS n_hits,
           cast(sum(cast(round(p.value * 1000, 0) AS bigint)) AS bigint) AS sum_v_milli,
           round(sum(c.lon), 6) AS sum_lon, round(sum(c.lat), 6) AS sum_lat
    FROM celled c JOIN pts p ON p.col = c.cell_col AND p.row = c.cell_row
    GROUP BY c.site_tile
    """,
)
def spatial_join_grid(spark, sf_dir):
    """Grid-bucketed point-in-cell spatial join — THE scalable spatial
    join shape: instead of a cross join with a containment predicate
    (O(|sites|·|cells|)), each site's coordinates are inverse-affine
    mapped to its containing cell id and the match becomes a plain
    EQUI-join on (cell_col, cell_row) that shuffles each side once.
    At 100 TB this generalizes to any fixed grid (geohash / S2 / H3
    bucketing); a multi-resolution variant unions a few cell levels.

    Sites are derived deterministically from the fixture (every 11th
    b2 pixel center); the inverse mapping uses the same transform
    values the forward projection used, with identical float
    association in the DuckDB twin, so cell ids match bit-exactly.
    """
    # ONE scan + unpivot feeds both sides (band filters prune after the
    # melt, mirroring the oracle's single pix CTE) — a second read of
    # the raster would be a full duplicate pass at scale.
    px = grid_unpivot(_tiles(spark, sf_dir))
    pts = (
        px.filter((F.col("band_id") == "b1") & F.col("value").isNotNull())
        .select("col", "row", "value")
    )
    sites = (
        px.filter((F.col("band_id") == "b2") & (F.col("pos") % 11 == 0))
        .select(
            F.col("tile_id").alias("site_tile"),
            "pos",
            (F.element_at("transform", 3) + (F.col("col") + 0.5) * F.element_at("transform", 1)).alias("lon"),
            (F.element_at("transform", 6) + (F.col("row") + 0.5) * F.element_at("transform", 5)).alias("lat"),
            "transform",
        )
    )
    celled = sites.select(
        "site_tile",
        "pos",
        "lon",
        "lat",
        F.floor((F.col("lon") - F.element_at("transform", 3)) / F.element_at("transform", 1))
        .cast("int")
        .alias("cell_col"),
        F.floor((F.col("lat") - F.element_at("transform", 6)) / F.element_at("transform", 5))
        .cast("int")
        .alias("cell_row"),
    )
    joined = celled.join(
        pts,
        (pts["col"] == celled["cell_col"]) & (pts["row"] == celled["cell_row"]),
    )
    return joined.groupBy("site_tile").agg(
        F.count("*").alias("n_hits"),
        F.sum(F.round(F.col("value") * 1000, 0).cast("long")).alias("sum_v_milli"),
        F.round(F.sum("lon"), 6).alias("sum_lon"),
        F.round(F.sum("lat"), 6).alias("sum_lat"),
    )


@register(
    "raster_downsample",
    oracle=f"""
    {_PX}
    SELECT cast(floor(col / 2) AS int) AS c2, cast(floor(row / 2) AS int) AS r2,
           count(value) AS n_valid,
           round(avg(value), 6) AS mean_v
    FROM pix WHERE band_id = 'b1'
    GROUP BY 1, 2
    """,
)
def raster_downsample(spark, sf_dir):
    """Raster pyramid level: 2×2 average-pool downsampling (the
    overview/COG-pyramid build every tiled-raster store runs).  Pixel
    → parent cell is integer arithmetic, the pool is one partial-
    aggregated groupBy — at 100 TB each factor-2 level shuffles only
    its own (4× smaller) key space, and levels chain like
    agg_rollup_cascade.  NULLs (nodata) are excluded from the mean
    exactly as count(value)/avg(value) SQL semantics state.

    When the source is a COG that already ships this pyramid, skip the
    compute entirely: ``tiles_from_rasters(..., overview_level=k)``
    reads the precomputed level (1/4^k of the bytes);
    `scan_geotiff_overview` hash-proves overview-read ≡ this operator
    on the committed pyramid fixture."""
    px = grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1"))
    return (
        px.groupBy(
            F.floor(F.col("col") / 2).cast("int").alias("c2"),
            F.floor(F.col("row") / 2).cast("int").alias("r2"),
        )
        .agg(
            F.count("value").alias("n_valid"),
            F.round(F.avg("value"), 6).alias("mean_v"),
        )
    )


@register(
    "raster_focal_mean",
    oracle=f"""
    {_PX}
    , valid AS (
        SELECT col, row, value FROM pix
        WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    offsets AS (
        SELECT dc, dr
        FROM (SELECT unnest([-1, 0, 1]) AS dc) CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dr)
    ),
    contrib AS (
        SELECT v.col + o.dc AS col, v.row + o.dr AS row, v.value
        FROM valid v CROSS JOIN offsets o
    )
    SELECT c.col, c.row, count(*) AS n_nbr, round(avg(c.value), 6) AS focal_mean
    FROM contrib c SEMI JOIN (SELECT DISTINCT col, row FROM valid) ctr
      ON ctr.col = c.col AND ctr.row = c.row
    GROUP BY c.col, c.row
    """,
)
def raster_focal_mean(spark, sf_dir):
    """3×3 focal (moving-window) mean — the stencil/convolution
    primitive behind hillshade, slope, blur and every neighborhood
    raster analysis, expressed scale-first: each valid pixel SCATTERS
    its value to the 9 cells it influences (a 9-row explode, pure
    projection), then one groupBy(col,row) gathers the neighborhood
    mean — a stencil as partial-aggregated shuffle, never a 9-way
    self-join or a windowed sort over the pixel stream.  A semi-join
    against valid centers masks the halo ring so output cells are
    exactly the valid pixels.  Scatter-gather generalizes to any
    kernel footprint; at 100 TB the shuffle carries 9×|valid| rows
    pre-combined map-side."""
    px = nodata_filter(grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1")))
    valid = px.select("col", "row", "value")
    offsets = F.expr(
        "explode(flatten(transform(array(-1, 0, 1), "
        "dc -> transform(array(-1, 0, 1), dr -> struct(dc as dc, dr as dr)))))"
    )
    contrib = valid.select(
        "col", "row", "value", offsets.alias("o")
    ).select(
        (F.col("col") + F.col("o.dc")).alias("ccol"),
        (F.col("row") + F.col("o.dr")).alias("crow"),
        "value",
    )
    # TRUE semi-join mask (not an inner join against a non-distinct
    # projection): contributions landing outside the valid-center set
    # are dropped, and a hypothetical duplicate center can never
    # multiply neighborhood counts.
    centers = valid.select(
        F.col("col").alias("ccol"), F.col("row").alias("crow")
    )
    return (
        contrib.join(centers, ["ccol", "crow"], "left_semi")
        .groupBy(F.col("ccol").alias("col"), F.col("crow").alias("row"))
        .agg(F.count("*").alias("n_nbr"), F.round(F.avg("value"), 6).alias("focal_mean"))
    )


@register(
    "raster_slope",
    oracle=f"""
    {_PX}
    , valid AS (
        SELECT col, row, value FROM pix
        WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    offsets AS (
        SELECT * FROM (VALUES (-1, 0, 'x', 1.0), (1, 0, 'x', -1.0),
                              (0, -1, 'y', 1.0), (0, 1, 'y', -1.0)) t(dc, dr, axis, w)
    ),
    contrib AS (
        SELECT v.col + o.dc AS col, v.row + o.dr AS row, o.axis, o.w * v.value AS wv
        FROM valid v CROSS JOIN offsets o
    ),
    grad AS (
        SELECT c.col, c.row,
               sum(CASE WHEN axis = 'x' THEN wv END) / 2 AS dzdx,
               sum(CASE WHEN axis = 'y' THEN wv END) / 2 AS dzdy,
               count(*) AS n
        FROM contrib c SEMI JOIN (SELECT DISTINCT col, row FROM valid) ctr
          ON ctr.col = c.col AND ctr.row = c.row
        GROUP BY c.col, c.row
    )
    SELECT col, row, round(dzdx, 6) AS dzdx, round(dzdy, 6) AS dzdy,
           round(sqrt(dzdx * dzdx + dzdy * dzdy), 6) AS slope
    FROM grad WHERE n = 4
    """,
)
def raster_slope(spark, sf_dir):
    """Per-pixel gradient magnitude (slope) by central differences —
    the terrain-analysis sibling of raster_focal_mean, and the second
    stencil kernel proving the scatter-gather pattern generalizes:
    each valid pixel scatters a SIGNED, axis-tagged contribution to
    the 4 centers it influences; one groupBy(col,row) gathers
    dz/dx = (v(x+1) - v(x-1))/2 and dz/dy, and sqrt of the squared
    sums is the slope.

    Same scale shape as focal_mean: a 4-row in-row explode (pure
    projection), one partial-aggregated shuffle of 4x|valid| rows,
    a semi-join mask against valid centers; interior-only output via
    the n = 4 completeness gate (border pixels lack a neighbor on
    some axis — emitting them would silently bias the gradient).
    """
    px = nodata_filter(grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1")))
    valid = px.select("col", "row", "value")
    offsets = F.expr(
        "explode(array("
        "struct(-1 as dc, 0 as dr, 'x' as axis, 1.0D as w),"
        "struct( 1 as dc, 0 as dr, 'x' as axis, -1.0D as w),"
        "struct(0 as dc, -1 as dr, 'y' as axis, 1.0D as w),"
        "struct(0 as dc,  1 as dr, 'y' as axis, -1.0D as w)))"
    )
    contrib = valid.select("col", "row", "value", offsets.alias("o")).select(
        (F.col("col") + F.col("o.dc")).alias("ccol"),
        (F.col("row") + F.col("o.dr")).alias("crow"),
        F.col("o.axis").alias("axis"),
        (F.col("o.w") * F.col("value")).alias("wv"),
    )
    centers = valid.select(F.col("col").alias("ccol"), F.col("row").alias("crow"))
    grad = (
        contrib.join(centers, ["ccol", "crow"], "left_semi")
        .groupBy(F.col("ccol").alias("col"), F.col("crow").alias("row"))
        .agg(
            (F.sum(F.when(F.col("axis") == "x", F.col("wv"))) / 2).alias("dzdx"),
            (F.sum(F.when(F.col("axis") == "y", F.col("wv"))) / 2).alias("dzdy"),
            F.count("*").alias("n"),
        )
    )
    return grad.filter(F.col("n") == 4).select(
        "col",
        "row",
        F.round("dzdx", 6).alias("dzdx"),
        F.round("dzdy", 6).alias("dzdy"),
        F.round(
            F.sqrt(F.col("dzdx") * F.col("dzdx") + F.col("dzdy") * F.col("dzdy")), 6
        ).alias("slope"),
    )


@register(
    "raster_focal_gaussian_sep",
    oracle=f"""
    {_PX}
    , valid AS (
        SELECT col, row, floor(value * 1024.0 + 0.5) / 1024.0 AS value
        FROM pix
        WHERE band_id = 'b2' AND value IS NOT NULL
    ),
    k AS (
        SELECT unnest([-2, -1, 0, 1, 2]) AS d,
               unnest([1.0, 4.0, 6.0, 4.0, 1.0]) AS w
    ),
    offs AS (
        SELECT kc.d AS dc, kr.d AS dr, kc.w * kr.w AS w
        FROM k kc CROSS JOIN k kr
    ),
    contrib AS (
        SELECT v.col + o.dc AS col, v.row + o.dr AS row, o.w * v.value AS wv
        FROM valid v CROSS JOIN offs o
    )
    SELECT col, row, round(sum(wv) / 256.0, 6) AS gauss
    FROM contrib
    GROUP BY col, row
    HAVING count(*) = 25
    """,
)
def raster_focal_gaussian_sep(spark, sf_dir):
    """[r14] 5×5 binomial (Gaussian-approximating) blur computed as
    two SEPARABLE 1-D passes — the convolution-separability
    optimization every image pipeline relies on: kernel
    [1,4,6,4,1]⊗[1,4,6,4,1]/256 applied as a horizontal
    scatter-gather (5×|valid| rows) followed by a vertical one
    (5×|complete| rows), so the shuffle carries 2·5× the pixels
    instead of the direct form's 25× — at 100 TB that is 2.5× less
    data movement for ANY 5-tap kernel, and the gap widens linearly
    with kernel width (2k vs k²).

    The ORACLE deliberately computes the DIRECT 25-term 2-D
    convolution — the hash match is a machine-checked proof of the
    separability identity Σ_r w_r Σ_c w_c v = Σ_{{r,c}} w_r w_c v on
    real data, not just a replay of the same plan.  Completeness
    gates (n=5 per pass) emit exactly the centers whose full 5×5
    neighborhood is valid — identical to the oracle's HAVING
    count(*)=25 — so nodata never biases the weighted mean.  Same
    scatter-gather discipline as raster_focal_mean/raster_slope.

    Exactness device: inputs are quantized to 1/1024 (floor half-up,
    identical on both engines) before the convolution, so every
    weighted term is an exact binary fraction and the ≤25-term sums
    fit in far fewer than 53 significand bits — the separability
    identity then holds EXACTLY in floating point, in any summation
    order, on any partitioning (the unquantized form diverged by one
    ulp at a round(,6) boundary across partition counts —
    determinism_r14)."""
    px = nodata_filter(grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b2")))
    valid = px.select(
        "col",
        "row",
        (F.floor(F.col("value") * 1024.0 + 0.5) / 1024.0).alias("value"),
    )
    taps = F.expr(
        "explode(arrays_zip(array(-2, -1, 0, 1, 2), "
        "array(1.0D, 4.0D, 6.0D, 4.0D, 1.0D)))"
    )
    # pass 1 — horizontal: gather Σ w_c · v at (col+dc, row); only
    # complete 5-tap rows survive (partial sums would leak through
    # the second pass as silently under-weighted output)
    h = (
        valid.select("col", "row", "value", taps.alias("k"))
        .select(
            (F.col("col") + F.col("k.0")).alias("col"),
            F.col("row"),
            (F.col("k.1") * F.col("value")).alias("wv"),
        )
        .groupBy("col", "row")
        .agg(F.sum("wv").alias("g1"), F.count("*").alias("n1"))
        .filter(F.col("n1") == 5)
    )
    # pass 2 — vertical over the complete horizontal sums
    return (
        h.select("col", "row", "g1", taps.alias("k"))
        .select(
            F.col("col"),
            (F.col("row") + F.col("k.0")).alias("row"),
            (F.col("k.1") * F.col("g1")).alias("wg"),
        )
        .groupBy("col", "row")
        .agg(F.sum("wg").alias("g2"), F.count("*").alias("n2"))
        .filter(F.col("n2") == 5)
        .select(
            "col",
            "row",
            F.round(F.col("g2") / 256.0, 6).alias("gauss"),
        )
    )


@register(
    "fn_haversine",
    oracle=f"""
    {_PX}
    , pts AS (
        SELECT tile_id, row, col,
               transform[3] + (col + 0.5) * transform[1] + (row + 0.5) * transform[2] AS lon,
               transform[6] + (col + 0.5) * transform[4] + (row + 0.5) * transform[5] AS lat
        FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    )
    SELECT tile_id, row, col,
           round(2 * 6371.0088 * asin(sqrt(
               pow(sin(radians(lat - 44.0) / 2), 2)
               + cos(radians(44.0)) * cos(radians(lat))
                 * pow(sin(radians(lon - 11.0) / 2), 2)
           )), 3) AS dist_km
    FROM pts
    """,
)
def fn_haversine(spark, sf_dir):
    """Great-circle (haversine) distance from every masked pixel
    center to a reference point (11°E, 44°N) — the geo-distance
    function behind proximity filters and nearest-site joins on the
    point table the engine produces.

    Pure per-row trigonometry fused into the scan stage (zero
    shuffles); both engines evaluate the identical double-precision
    formula from the identical affine-projected coordinates, rounded
    to meter precision (3 dp of km) to absorb last-ulp libm
    divergence.
    """
    px = nodata_filter(grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1")))
    px = affine_coords(px)
    lat0 = F.lit(44.0)
    lon0 = F.lit(11.0)
    hav = (
        F.pow(F.sin(F.radians(F.col("lat") - lat0) / 2), 2)
        + F.cos(F.radians(lat0))
        * F.cos(F.radians(F.col("lat")))
        * F.pow(F.sin(F.radians(F.col("lon") - lon0) / 2), 2)
    )
    return px.select(
        "tile_id",
        "row",
        "col",
        F.round(2 * 6371.0088 * F.asin(F.sqrt(hav)), 3).alias("dist_km"),
    )


# WGS84 / transverse-Mercator constants for fn_utm_forward, computed
# once in Python and injected as identical decimal literals into BOTH
# engines' expressions (same parse → same doubles).  Snyder (1987),
# "Map Projections — A Working Manual", eqs 8-9..8-13; UTM zone 27N
# (central meridian 21°W) covers the fixture's 20-17°W pixel centers
# (eastern pixels sit ~4.2° from the CM — standard UTM overedge; the
# series stays sub-cm there).
_UTM_A = 6378137.0
_UTM_F = 1.0 / 298.257223563
_UTM_E2 = _UTM_F * (2.0 - _UTM_F)
_UTM_EP2 = _UTM_E2 / (1.0 - _UTM_E2)
_UTM_K0 = 0.9996
_UTM_LON0 = -21.0
_UTM_M0 = 1.0 - _UTM_E2 / 4.0 - 3.0 * _UTM_E2**2 / 64.0 - 5.0 * _UTM_E2**3 / 256.0
_UTM_M2 = 3.0 * _UTM_E2 / 8.0 + 3.0 * _UTM_E2**2 / 32.0 + 45.0 * _UTM_E2**3 / 1024.0
_UTM_M4 = 15.0 * _UTM_E2**2 / 256.0 + 45.0 * _UTM_E2**3 / 1024.0
_UTM_M6 = 35.0 * _UTM_E2**3 / 3072.0


@register(
    "fn_utm_forward",
    oracle=f"""
    {_PX}
    , pts AS (
        SELECT tile_id, row, col,
               radians(transform[3] + (col + 0.5) * transform[1] + (row + 0.5) * transform[2]) AS lam,
               radians(transform[6] + (col + 0.5) * transform[4] + (row + 0.5) * transform[5]) AS phi
        FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    base AS (
        SELECT tile_id, row, col, phi,
               {_UTM_A!r} / sqrt(1.0 - {_UTM_E2!r} * sin(phi) * sin(phi)) AS nn,
               tan(phi) * tan(phi) AS t,
               {_UTM_EP2!r} * cos(phi) * cos(phi) AS c,
               (lam - radians({_UTM_LON0!r})) * cos(phi) AS a,
               {_UTM_A!r} * ({_UTM_M0!r} * phi - {_UTM_M2!r} * sin(2.0 * phi)
                   + {_UTM_M4!r} * sin(4.0 * phi) - {_UTM_M6!r} * sin(6.0 * phi)) AS m
        FROM pts
    )
    SELECT tile_id, row, col,
           round(500000.0 + {_UTM_K0!r} * nn * (a
               + (1.0 - t + c) * (a * a * a) / 6.0
               + (5.0 - 18.0 * t + t * t + 72.0 * c - 58.0 * {_UTM_EP2!r})
                 * (a * a * a * a * a) / 120.0), 3) AS easting,
           round({_UTM_K0!r} * (m + nn * tan(phi) * ((a * a) / 2.0
               + (5.0 - t + 9.0 * c + 4.0 * c * c) * (a * a * a * a) / 24.0
               + (61.0 - 58.0 * t + t * t + 600.0 * c - 330.0 * {_UTM_EP2!r})
                 * (a * a * a * a * a * a) / 720.0)), 3) AS northing
    FROM base
    """,
)
def fn_utm_forward(spark, sf_dir):
    """[r14] WGS84 → UTM zone 27N forward projection of every masked
    pixel center — REAL geodesy (Snyder 1987 eqs 8-9..8-13, the same
    series PROJ/GDAL use for EPSG:32627), not an affine stand-in: the
    reprojection math behind gdalwarp, completing the r14 CRS story
    (the catalog now reads/writes projected-CRS geokeys; this key
    computes the projected coordinates themselves).  Sub-mm series
    accuracy within the zone; both engines evaluate the identical
    double-precision expression tree from identical injected decimal
    constants, rounded to mm (3 dp of m) to absorb last-ulp libm
    divergence — same discipline as fn_haversine.

    Scale shape: pure per-row trigonometry fused into the scan stage
    (zero shuffles, whole-stage codegen JVM-side) — at 100 TB this is
    the map-side projection step of every reproject/mosaic pipeline,
    cost ∝ pixels with no data movement."""
    px = nodata_filter(grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1")))
    px = affine_coords(px)
    phi = F.radians(F.col("lat"))
    lam = F.radians(F.col("lon"))
    sin_phi, cos_phi, tan_phi = F.sin(phi), F.cos(phi), F.tan(phi)
    nn = F.lit(_UTM_A) / F.sqrt(F.lit(1.0) - F.lit(_UTM_E2) * sin_phi * sin_phi)
    t_ = tan_phi * tan_phi
    c = F.lit(_UTM_EP2) * cos_phi * cos_phi
    a = (lam - F.radians(F.lit(_UTM_LON0))) * cos_phi
    m = F.lit(_UTM_A) * (
        F.lit(_UTM_M0) * phi
        - F.lit(_UTM_M2) * F.sin(2.0 * phi)
        + F.lit(_UTM_M4) * F.sin(4.0 * phi)
        - F.lit(_UTM_M6) * F.sin(6.0 * phi)
    )
    easting = F.lit(500000.0) + F.lit(_UTM_K0) * nn * (
        a
        + (F.lit(1.0) - t_ + c) * (a * a * a) / 6.0
        + (F.lit(5.0) - 18.0 * t_ + t_ * t_ + 72.0 * c - F.lit(58.0) * F.lit(_UTM_EP2))
        * (a * a * a * a * a)
        / 120.0
    )
    northing = F.lit(_UTM_K0) * (
        m
        + nn
        * tan_phi
        * (
            (a * a) / 2.0
            + (F.lit(5.0) - t_ + 9.0 * c + 4.0 * c * c) * (a * a * a * a) / 24.0
            + (F.lit(61.0) - 58.0 * t_ + t_ * t_ + 600.0 * c - F.lit(330.0) * F.lit(_UTM_EP2))
            * (a * a * a * a * a * a)
            / 720.0
        )
    )
    return px.select(
        "tile_id",
        "row",
        "col",
        F.round(easting, 3).alias("easting"),
        F.round(northing, 3).alias("northing"),
    )


@register(
    "raster_band_math",
    oracle=f"""
    {_PX}
    SELECT b1.tile_id, b1.row, b1.col,
           round((b2.value - b1.value) / nullif(b2.value + b1.value, 0), 6) AS ndi
    FROM (SELECT * FROM pix WHERE band_id = 'b1' AND value IS NOT NULL) b1
    JOIN (SELECT * FROM pix WHERE band_id = 'b2' AND value IS NOT NULL) b2
      ON b1.tile_id = b2.tile_id AND b1.pos = b2.pos
    """,
)
def raster_band_math(spark, sf_dir):
    """Normalized-difference index (the NDVI shape: (b2-b1)/(b2+b1))
    over positionally-aligned bands — the band-algebra composite every
    remote-sensing pipeline derives before thresholding.

    Same zero-blowup alignment as band_zip_join (equi-join on
    (tile_id, pos) — at tile granularity this is arrays_zip, never a
    pixel shuffle) with the arithmetic fused as a codegen projection;
    nullif guards the zero-denominator pixels identically in both
    engines (ANSI-safe, no try_divide asymmetry).
    """
    tl = _tiles(spark, sf_dir)
    b1 = nodata_filter(grid_unpivot(tl.filter(F.col("band_id") == "b1")))
    b2 = nodata_filter(grid_unpivot(tl.filter(F.col("band_id") == "b2")))
    return (
        b1.select("tile_id", "pos", "row", "col", F.col("value").alias("v1"))
        .join(b2.select("tile_id", "pos", F.col("value").alias("v2")), ["tile_id", "pos"])
        .select(
            "tile_id",
            "row",
            "col",
            F.round(
                (F.col("v2") - F.col("v1"))
                / F.nullif(F.col("v2") + F.col("v1"), F.lit(0)),
                6,
            ).alias("ndi"),
        )
    )


@register(
    "raster_fill_idw",
    oracle=f"""
    {_PX}
    , b AS (SELECT col, row, value FROM pix WHERE band_id = 'b1'),
    holes AS (SELECT col, row FROM b WHERE value IS NULL),
    valid AS (SELECT col, row, value FROM b WHERE value IS NOT NULL),
    offsets AS (
        SELECT dc, dr, sqrt(cast(dc*dc + dr*dr AS double)) AS dist
        FROM (SELECT unnest([-1, 0, 1]) AS dc) CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dr)
        WHERE NOT (dc = 0 AND dr = 0)
    ),
    contrib AS (
        SELECT v.col + o.dc AS col, v.row + o.dr AS row,
               v.value / o.dist AS wv, 1.0 / o.dist AS w
        FROM valid v CROSS JOIN offsets o
    )
    SELECT h.col, h.row,
           round(sum(c.wv) / sum(c.w), 6) AS filled,
           count(*) AS n_nbr
    FROM contrib c JOIN holes h ON h.col = c.col AND h.row = c.row
    GROUP BY h.col, h.row
    """,
)
def raster_fill_idw(spark, sf_dir):
    """NoData gap-filling by inverse-distance-weighted interpolation
    from the 8 valid neighbors — the third stencil kernel (after
    focal_mean and slope), this one writing INTO the mask holes
    instead of over the valid set.

    Identical scatter-gather scale shape: valid pixels scatter
    (value/d, 1/d) pairs to their 8 neighbors (in-row explode), one
    partial-aggregated shuffle gathers the weighted mean, and the
    gather is masked to the HOLE set (join against nodata centers) —
    holes with zero valid neighbors stay absent, exactly like the
    oracle.  Diagonal neighbors weigh 1/√2: true IDW, not a box mean.
    """
    px = grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1"))
    b = px.select("col", "row", "value")
    holes = b.filter(F.col("value").isNull()).select(
        F.col("col").alias("ccol"), F.col("row").alias("crow")
    )
    valid = b.filter(F.col("value").isNotNull())
    offsets = F.expr(
        "explode(filter(flatten(transform(array(-1, 0, 1), "
        "dc -> transform(array(-1, 0, 1), dr -> struct(dc as dc, dr as dr)))), "
        "o -> NOT (o.dc = 0 AND o.dr = 0)))"
    )
    contrib = valid.select("col", "row", "value", offsets.alias("o")).select(
        (F.col("col") + F.col("o.dc")).alias("ccol"),
        (F.col("row") + F.col("o.dr")).alias("crow"),
        F.sqrt((F.col("o.dc") * F.col("o.dc") + F.col("o.dr") * F.col("o.dr")).cast("double")).alias("dist"),
        "value",
    )
    return (
        contrib.join(holes, ["ccol", "crow"])
        .groupBy(F.col("ccol").alias("col"), F.col("crow").alias("row"))
        .agg(
            F.round(
                F.sum(F.col("value") / F.col("dist")) / F.sum(F.lit(1.0) / F.col("dist")), 6
            ).alias("filled"),
            F.count("*").alias("n_nbr"),
        )
    )


@register(
    "raster_hillshade",
    oracle=f"""
    {_PX}
    , valid AS (
        SELECT col, row, value FROM pix
        WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    offsets AS (
        SELECT * FROM (VALUES (-1, 0, 'x', 1.0), (1, 0, 'x', -1.0),
                              (0, -1, 'y', 1.0), (0, 1, 'y', -1.0)) t(dc, dr, axis, w)
    ),
    contrib AS (
        SELECT v.col + o.dc AS col, v.row + o.dr AS row, o.axis, o.w * v.value AS wv
        FROM valid v CROSS JOIN offsets o
    ),
    grad AS (
        SELECT c.col, c.row,
               sum(CASE WHEN axis = 'x' THEN wv END) / 2 AS dzdx,
               sum(CASE WHEN axis = 'y' THEN wv END) / 2 AS dzdy,
               count(*) AS n
        FROM contrib c SEMI JOIN (SELECT DISTINCT col, row FROM valid) ctr
          ON ctr.col = c.col AND ctr.row = c.row
        GROUP BY c.col, c.row
    )
    SELECT col, row,
           round(greatest(0.0,
               cos(radians(45.0)) * cos(atan(sqrt(dzdx*dzdx + dzdy*dzdy)))
             + sin(radians(45.0)) * sin(atan(sqrt(dzdx*dzdx + dzdy*dzdy)))
               * cos(radians(315.0) - atan2(dzdy, -dzdx))
           ) * 255, 3) AS shade
    FROM grad WHERE n = 4
    """,
)
def raster_hillshade(spark, sf_dir):
    """Hillshade (illumination from azimuth 315°, altitude 45°) — the
    cartographic composite over the central-difference gradient,
    completing the terrain suite (slope, IDW fill, focal mean,
    downsample) with the standard Horn-style shade formula.

    The gradient reuses raster_slope's scatter-gather (one
    partial-aggregated shuffle); the shade itself is pure per-row trig
    in whole-stage codegen.  Both engines evaluate the identical
    double formula; 3-dp round on the 0-255 scale absorbs libm ulp
    skew.
    """
    px = nodata_filter(grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1")))
    valid = px.select("col", "row", "value")
    offsets = F.expr(
        "explode(array("
        "struct(-1 as dc, 0 as dr, 'x' as axis, 1.0D as w),"
        "struct( 1 as dc, 0 as dr, 'x' as axis, -1.0D as w),"
        "struct(0 as dc, -1 as dr, 'y' as axis, 1.0D as w),"
        "struct(0 as dc,  1 as dr, 'y' as axis, -1.0D as w)))"
    )
    contrib = valid.select("col", "row", "value", offsets.alias("o")).select(
        (F.col("col") + F.col("o.dc")).alias("ccol"),
        (F.col("row") + F.col("o.dr")).alias("crow"),
        F.col("o.axis").alias("axis"),
        (F.col("o.w") * F.col("value")).alias("wv"),
    )
    centers = valid.select(F.col("col").alias("ccol"), F.col("row").alias("crow"))
    grad = (
        contrib.join(centers, ["ccol", "crow"], "left_semi")
        .groupBy(F.col("ccol").alias("col"), F.col("crow").alias("row"))
        .agg(
            (F.sum(F.when(F.col("axis") == "x", F.col("wv"))) / 2).alias("dzdx"),
            (F.sum(F.when(F.col("axis") == "y", F.col("wv"))) / 2).alias("dzdy"),
            F.count("*").alias("n"),
        )
    )
    slope_rad = F.atan(
        F.sqrt(F.col("dzdx") * F.col("dzdx") + F.col("dzdy") * F.col("dzdy"))
    )
    aspect = F.atan2(F.col("dzdy"), -F.col("dzdx"))
    alt = F.radians(F.lit(45.0))
    az = F.radians(F.lit(315.0))
    shade = (
        F.cos(alt) * F.cos(slope_rad) + F.sin(alt) * F.sin(slope_rad) * F.cos(az - aspect)
    )
    return grad.filter(F.col("n") == 4).select(
        "col",
        "row",
        F.round(F.greatest(F.lit(0.0), shade) * 255, 3).alias("shade"),
    )


@register(
    "raster_zonal_stats",
    oracle=f"""
    {_PX}
    SELECT cast(floor(b2.value / 10) AS bigint) AS zone,
           count(*) AS n_px,
           cast(sum(cast(round(b1.value * 1000) AS bigint)) AS bigint) AS sum_milli,
           round(avg(b1.value), 4) AS mean_val,
           round(min(b1.value), 3) AS min_val,
           round(max(b1.value), 3) AS max_val
    FROM (SELECT * FROM pix WHERE band_id = 'b1' AND value IS NOT NULL) b1
    JOIN (SELECT * FROM pix WHERE band_id = 'b2' AND value IS NOT NULL) b2
      ON b1.tile_id = b2.tile_id AND b1.pos = b2.pos
    GROUP BY 1
    """,
)
def raster_zonal_stats(spark, sf_dir):
    """Zonal statistics — the classic two-raster GIS op: band 2 acts
    as the ZONE raster (categorical zones = floor(value/10)), band 1
    as the value raster; per-zone count/sum/mean/min/max over pixels
    valid in BOTH bands.

    Scale shape: the positional band alignment is band_zip_join's
    equi-join on (tile_id, pos) — zones travel WITH the pixel rows, so
    the zonal rollup is one map-side-combined aggregate whose output
    is |zones| rows; the pixel stream shuffles once for the join key
    and never again.  Values sum exactly in integer milli-units (the
    fixture payloads are exact 3-decimals), floats round identically
    both sides.
    """
    tl = _tiles(spark, sf_dir)
    b1 = nodata_filter(grid_unpivot(tl.filter(F.col("band_id") == "b1")))
    b2 = nodata_filter(grid_unpivot(tl.filter(F.col("band_id") == "b2")))
    joined = b1.join(
        b2.select("tile_id", "pos", F.col("value").alias("zone_val")),
        ["tile_id", "pos"],
    )
    return (
        joined.groupBy(
            F.floor(F.col("zone_val") / 10).cast("bigint").alias("zone")
        )
        .agg(
            F.count("*").alias("n_px"),
            F.sum(F.round(F.col("value") * 1000).cast("bigint"))
            .cast("bigint")
            .alias("sum_milli"),
            F.round(F.avg("value"), 4).alias("mean_val"),
            F.round(F.min("value"), 3).alias("min_val"),
            F.round(F.max("value"), 3).alias("max_val"),
        )
    )


# Target grid for raster_reproject_nn: same CRS, different origin/
# resolution (0.08° vs the source's 0.05° — a non-integer ratio, so
# cells genuinely resample rather than aggregate neatly).
_RP_X0, _RP_Y0, _RP_RES = -20.0, 60.0, 0.08


@register(
    "raster_reproject_nn",
    oracle=f"""
    {_PX}
    , src AS (
      SELECT tile_id, row, col, value,
             transform[3] + (col + 0.5) * transform[1] AS lon,
             transform[6] + (row + 0.5) * transform[5] AS lat
      FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    mapped AS (
      SELECT row, col, value, lon, lat,
             cast(floor((lon - {_RP_X0}) / {_RP_RES}) AS bigint) AS tc,
             cast(floor(({_RP_Y0} - lat) / {_RP_RES}) AS bigint) AS tr
      FROM src
    ),
    ranked AS (
      SELECT tc, tr, value,
             row_number() OVER (
               PARTITION BY tc, tr
               ORDER BY (lon - ({_RP_X0} + (tc + 0.5) * {_RP_RES}))
                        * (lon - ({_RP_X0} + (tc + 0.5) * {_RP_RES}))
                      + (lat - ({_RP_Y0} - (tr + 0.5) * {_RP_RES}))
                        * (lat - ({_RP_Y0} - (tr + 0.5) * {_RP_RES})),
                        row, col) AS rn,
             count(*) OVER (PARTITION BY tc, tr) AS n_src
      FROM mapped
    )
    SELECT tc, tr, round(value, 3) AS value, cast(n_src AS bigint) AS n_src
    FROM ranked WHERE rn = 1
    """,
)
def raster_reproject_nn(spark, sf_dir):
    """Nearest-neighbor reprojection/regrid — the GDAL-warp shape: the
    masked band resampled onto a target grid with a different origin
    and a NON-integer resolution ratio (0.05° → 0.08°).  Each source
    pixel center is inverse-mapped to its covering target cell; the
    cell's value is the source pixel nearest the cell center
    (squared-degree distance, (row, col) total-order tiebreak), with
    the contributing-pixel count kept for QA.

    Scale shape: the inverse mapping is a pure projection fused into
    the pixel scan (same trick as spatial_join_grid — bucketing makes
    resampling an EQUI-grouping, never a spatial join); one
    (tc, tr)-keyed exchange serves both the rank and the count.  The
    distance expressions are written with identical association both
    sides, so the doubles — and therefore the chosen pixel — match
    bitwise.  Empty target cells are absent rows (sparse semantics,
    as everywhere in the melted-raster model).
    """
    px = nodata_filter(grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1")))
    src = affine_coords(px).select("row", "col", "value", "lon", "lat")
    mapped = src.select(
        "row",
        "col",
        "value",
        "lon",
        "lat",
        F.floor((F.col("lon") - _RP_X0) / _RP_RES).cast("bigint").alias("tc"),
        F.floor((F.lit(_RP_Y0) - F.col("lat")) / _RP_RES).cast("bigint").alias("tr"),
    )
    dx = F.col("lon") - (_RP_X0 + (F.col("tc") + 0.5) * _RP_RES)
    dy = F.col("lat") - (F.lit(_RP_Y0) - (F.col("tr") + 0.5) * _RP_RES)
    w = Window.partitionBy("tc", "tr").orderBy(
        (dx * dx + dy * dy).asc(), F.col("row"), F.col("col")
    )
    ranked = mapped.select(
        "tc",
        "tr",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("tc", "tr")).alias("n_src"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "tc",
        "tr",
        F.round("value", 3).alias("value"),
        F.col("n_src").cast("bigint").alias("n_src"),
    )


# Target grid for raster_resample_bilinear: res 0.03° (non-integer
# ratio to the source's 0.05°), origin nudged inside the source extent
# so interior cells have a full 2×2 neighborhood.
_BL_X0, _BL_Y0, _BL_RES, _BL_N = -19.9, 59.9, 0.03, 40


@register(
    "raster_resample_bilinear",
    oracle=f"""
    {_PX}
    , valid AS (
      SELECT col, row, value FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    tgt AS (
      -- every literal cast to DOUBLE: DuckDB types bare decimal
      -- literals as DECIMAL and would evaluate the affine chain in
      -- exact decimal arithmetic, flipping floor() at pixel-boundary
      -- centers vs Spark's binary doubles
      SELECT tc, tr,
             (CAST({_BL_X0} AS DOUBLE) + (CAST(tc AS DOUBLE) + CAST(0.5 AS DOUBLE))
              * CAST({_BL_RES} AS DOUBLE) - CAST(-20.0 AS DOUBLE))
             / CAST(0.05 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS fx,
             (CAST(60.0 AS DOUBLE) - (CAST({_BL_Y0} AS DOUBLE)
              - (CAST(tr AS DOUBLE) + CAST(0.5 AS DOUBLE)) * CAST({_BL_RES} AS DOUBLE)))
             / CAST(0.05 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS fy
      FROM (SELECT unnest(generate_series(0, {_BL_N - 1})) AS tc)
      CROSS JOIN (SELECT unnest(generate_series(0, {_BL_N - 1})) AS tr)
    ),
    corners AS (
      SELECT tc, tr,
             cast(floor(fx) AS int) + dc AS col,
             cast(floor(fy) AS int) + dr AS row,
             (CASE WHEN dc = 0 THEN CAST(1.0 AS DOUBLE) - (fx - floor(fx))
                   ELSE fx - floor(fx) END)
           * (CASE WHEN dr = 0 THEN CAST(1.0 AS DOUBLE) - (fy - floor(fy))
                   ELSE fy - floor(fy) END)
               AS w
      FROM tgt
      CROSS JOIN (SELECT unnest([0, 1]) AS dc)
      CROSS JOIN (SELECT unnest([0, 1]) AS dr)
    )
    SELECT tc, tr, round(sum(c.w * v.value), 6) AS value
    FROM corners c JOIN valid v ON v.col = c.col AND v.row = c.row
    GROUP BY tc, tr HAVING count(*) = 4
    """,
)
def raster_resample_bilinear(spark, sf_dir):
    """Bilinear resampling to a different-resolution grid — the
    GDAL-warp interpolating counterpart of raster_reproject_nn (NN
    picks one source pixel; bilinear blends the 2×2 neighborhood with
    area weights, the default for continuous rasters like elevation).

    Spark-first shape: the inverse mapping (target center → fractional
    source pixel) is a pure projection over a GENERATED target grid
    (spark.range — never collected); each target cell then EXPLODES
    into its 4 corner (col,row,weight) contributions and the sample is
    one EQUI-join against the pixel relation + a partial-aggregated
    groupBy(tc,tr) — resampling as hash join on pixel key, never a
    spatial join or a gather UDF.  Cells missing any of the 4
    neighbors (nodata hole or grid edge) are dropped by the count=4
    gate, matching GDAL's all-valid bilinear contract.

    Determinism: the affine and weight expressions are written with
    identical association in both engines, so the fractional coords
    and weights are IEEE-bitwise equal; the 4-term weighted sum is
    rounded at 6 dp.  At 100 TB the pixel side shuffles on (col,row)
    key — the 4×|target| probe relation is the small side and AQE
    broadcasts it per partition of the source.
    """
    px = nodata_filter(
        grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1"))
    )
    valid = px.select("col", "row", "value")
    n2 = _BL_N * _BL_N
    tgt = (
        spark.range(n2)
        .select(
            (F.col("id") % _BL_N).cast("int").alias("tc"),
            (F.col("id") / _BL_N).cast("int").alias("tr"),
        )
        .withColumn(
            "fx",
            (F.lit(_BL_X0) + (F.col("tc") + 0.5) * _BL_RES - (-20.0)) / 0.05 - 0.5,
        )
        .withColumn(
            "fy",
            (F.lit(60.0) - (F.lit(_BL_Y0) - (F.col("tr") + 0.5) * _BL_RES)) / 0.05
            - 0.5,
        )
    )
    corners = tgt.select(
        "tc",
        "tr",
        F.explode(
            F.expr(
                "flatten(transform(array(0, 1), dc -> transform(array(0, 1), "
                "dr -> struct("
                "cast(floor(fx) as int) + dc AS col, "
                "cast(floor(fy) as int) + dr AS row, "
                "(CASE WHEN dc = 0 THEN 1.0 - (fx - floor(fx)) ELSE fx - floor(fx) END)"
                " * (CASE WHEN dr = 0 THEN 1.0 - (fy - floor(fy)) ELSE fy - floor(fy) END)"
                " AS w))))"
            )
        ).alias("k"),
    ).select("tc", "tr", "k.col", "k.row", "k.w")
    return (
        corners.join(valid, ["col", "row"])
        .groupBy("tc", "tr")
        .agg(
            F.round(F.sum(F.col("w") * F.col("value")), 6).alias("value"),
            F.count("*").alias("n4"),
        )
        .filter(F.col("n4") == 4)
        .select("tc", "tr", "value")
    )


_RL_ROUNDS = 6


def _region_label_oracle() -> str:
    ctes = [
        _PX.strip().removeprefix("WITH "),
        """vp AS (
      SELECT cast(row AS bigint) * 64 + col AS pid, col, row,
             cast(floor(value / 10) AS int) AS cls
      FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    )""",
        """adj AS (
      SELECT a.pid AS pa, b.pid AS pb
      FROM vp a JOIN vp b
        ON a.cls = b.cls AND abs(a.col - b.col) + abs(a.row - b.row) = 1
    )""",
        "l0 AS (SELECT pid, col, row, cls, pid AS lbl FROM vp)",
    ]
    for k in range(_RL_ROUNDS):
        ctes.append(
            f"""l{k + 1} AS (
      SELECT l.pid, l.col, l.row, l.cls,
             least(l.lbl, coalesce(min(nl.lbl), l.lbl)) AS lbl
      FROM l{k} l
      LEFT JOIN adj ON adj.pa = l.pid
      LEFT JOIN l{k} nl ON nl.pid = adj.pb
      GROUP BY l.pid, l.col, l.row, l.cls, l.lbl
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT col, row, cls, lbl FROM l{_RL_ROUNDS}\n    "
    )


@register("raster_region_label", oracle=_region_label_oracle())
def raster_region_label(spark, sf_dir):
    """Connected-region labeling of same-class pixels (4-adjacency,
    class = value decade) by synchronous min-label propagation — the
    distributed core of GDAL's polygonize / "island detection": after
    convergence every pixel carries the smallest pixel-id of its
    component.  Six rounds are unrolled so the DuckDB oracle can state
    the exact fixpoint prefix (the pagerank/kmeans discipline); a real
    run iterates to no-change like dedup_components, which this shares
    its algorithm with — this key is that algorithm on a GRID graph
    where adjacency is implicit in the coordinates.

    Scale shape: the adjacency is an EQUI-join of the pixel relation
    against its four shifted selves on (class, col, row) — never the
    |pixels|² abs-distance comparison the oracle states (fine there:
    the fixture grid is constant-size).  Each round is one
    neighbor-min groupBy + one left join, all integer arithmetic
    (exact), LAZY localCheckpoint per round truncates lineage
    (fixed-count loop, no driver action — rounds fold into the final
    job, see ml_kmeans_lloyd).  At 100 TB
    pixels shuffle by spatial key; rounds ∝ component diameter —
    for continental-scale regions you'd switch to the
    interval/run-compression variant, same propagation spine.
    """
    src, gw = _probe_tiles(spark, sf_dir)
    px = nodata_filter(grid_unpivot(src.filter(F.col("band_id") == "b1")))
    vp = px.select(
        (F.col("row").cast("bigint") * gw + F.col("col")).alias("pid"),
        "col",
        "row",
        F.floor(F.col("value") / 10).cast("int").alias("cls"),
    ).persist()
    shifts = F.expr(
        "explode(array(struct(1 as dc, 0 as dr), struct(-1 as dc, 0 as dr), "
        "struct(0 as dc, 1 as dr), struct(0 as dc, -1 as dr)))"
    )
    shifted = vp.select(
        "pid", "cls", "col", "row", shifts.alias("s")
    ).select(
        F.col("pid").alias("pa"),
        "cls",
        (F.col("col") + F.col("s.dc")).alias("col"),
        (F.col("row") + F.col("s.dr")).alias("row"),
    )
    adj = shifted.join(
        vp.select(F.col("pid").alias("pb"), "cls", "col", "row"),
        ["cls", "col", "row"],
    ).select("pa", "pb").persist()
    lbl = vp.select("pid", "col", "row", "cls", F.col("pid").alias("lbl"))
    for _ in range(_RL_ROUNDS):
        nb = (
            adj.join(
                lbl.select(F.col("pid").alias("pb"), F.col("lbl").alias("nlbl")),
                "pb",
            )
            .groupBy("pa")
            .agg(F.min("nlbl").alias("minn"))
        )
        lbl = (
            lbl.join(nb, lbl.pid == nb.pa, "left")
            .select(
                "pid",
                "col",
                "row",
                "cls",
                F.least(F.col("lbl"), F.coalesce(F.col("minn"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return lbl.select("col", "row", "cls", "lbl")


@register(
    "raster_flow_direction",
    oracle=f"""
    {_PX}
    , valid AS (
      SELECT col, row, value FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    offs AS (
      SELECT * FROM (VALUES
        (0,  1,  0, CAST(1.0 AS DOUBLE)), (1,  1,  1, sqrt(CAST(2.0 AS DOUBLE))),
        (2,  0,  1, CAST(1.0 AS DOUBLE)), (3, -1,  1, sqrt(CAST(2.0 AS DOUBLE))),
        (4, -1,  0, CAST(1.0 AS DOUBLE)), (5, -1, -1, sqrt(CAST(2.0 AS DOUBLE))),
        (6,  0, -1, CAST(1.0 AS DOUBLE)), (7,  1, -1, sqrt(CAST(2.0 AS DOUBLE)))
      ) AS o(dir, dc, dr, dist)
    ),
    grads AS (
      SELECT c.col, c.row, o.dir,
             (c.value - n.value) / o.dist AS grad
      FROM valid c
      JOIN offs o ON TRUE
      JOIN valid n ON n.col = c.col + o.dc AND n.row = c.row + o.dr
    ),
    best AS (
      SELECT col, row, dir, grad,
             row_number() OVER (PARTITION BY col, row
                                ORDER BY grad DESC, dir) AS rn
      FROM grads
    )
    SELECT c.col, c.row,
           CASE WHEN b.grad > 0 THEN b.dir ELSE -1 END AS flow_dir,
           round(CASE WHEN b.grad > 0 THEN b.grad ELSE 0.0 END, 6) AS drop_per_unit
    FROM valid c
    LEFT JOIN best b ON b.col = c.col AND b.row = c.row AND b.rn = 1
    """,
)
def raster_flow_direction(spark, sf_dir):
    """D8 flow direction — hydrology's first derivative raster (the
    GDAL/ArcGIS flow-accumulation front end): each pixel points at its
    steepest-DESCENT neighbor of 8, diagonals distance-weighted by
    √2; pits and flats (no positive drop) get −1.

    Same scatter-gather spine as raster_focal_mean: the 8 candidate
    directions are an in-row explode of a constant offset table, the
    neighbor lookup is an EQUI-join on shifted (col,row) — a stencil
    as hash join, never 8 window passes over a sorted pixel stream.
    The argmax is one (col,row)-keyed rank with (grad DESC, dir)
    total-order tiebreak (R2) so near-tie plateaus resolve identically
    in both engines: the gradient doubles are computed with identical
    association, and √2 is correctly rounded in both libms.  At
    100 TB pixels shuffle once by spatial key; edge pixels simply rank
    over fewer candidates.
    """
    src, _gw = _probe_tiles(spark, sf_dir)
    px = nodata_filter(grid_unpivot(src.filter(F.col("band_id") == "b1")))
    valid = px.select("col", "row", "value").persist()
    cand = valid.select(
        "col",
        "row",
        F.col("value").alias("cv"),
        F.explode(
            F.expr(
                "array(struct(0 as dir,  1 as dc,  0 as dr, cast(1.0 as double) as dist), "
                "struct(1 as dir,  1 as dc,  1 as dr, sqrt(cast(2.0 as double)) as dist), "
                "struct(2 as dir,  0 as dc,  1 as dr, cast(1.0 as double) as dist), "
                "struct(3 as dir, -1 as dc,  1 as dr, sqrt(cast(2.0 as double)) as dist), "
                "struct(4 as dir, -1 as dc,  0 as dr, cast(1.0 as double) as dist), "
                "struct(5 as dir, -1 as dc, -1 as dr, sqrt(cast(2.0 as double)) as dist), "
                "struct(6 as dir,  0 as dc, -1 as dr, cast(1.0 as double) as dist), "
                "struct(7 as dir,  1 as dc, -1 as dr, sqrt(cast(2.0 as double)) as dist))"
            )
        ).alias("o"),
    )
    nbr = valid.select(
        F.col("col").alias("ncol"),
        F.col("row").alias("nrow"),
        F.col("value").alias("nv"),
    )
    grads = cand.join(
        nbr,
        (F.col("ncol") == F.col("col") + F.col("o.dc"))
        & (F.col("nrow") == F.col("row") + F.col("o.dr")),
    ).select(
        "col",
        "row",
        F.col("o.dir").alias("dir"),
        ((F.col("cv") - F.col("nv")) / F.col("o.dist")).alias("grad"),
    )
    w = Window.partitionBy("col", "row").orderBy(F.col("grad").desc(), "dir")
    best = grads.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return valid.join(
        best.select(
            F.col("col").alias("bcol"),
            F.col("row").alias("brow"),
            "dir",
            "grad",
        ),
        (F.col("bcol") == F.col("col")) & (F.col("brow") == F.col("row")),
        "left",
    ).select(
        "col",
        "row",
        F.when(F.col("grad") > 0, F.col("dir")).otherwise(-1).alias("flow_dir"),
        F.round(
            F.when(F.col("grad") > 0, F.col("grad")).otherwise(0.0), 6
        ).alias("drop_per_unit"),
    )


_FA_ROUNDS = 5


def _flow_accum_oracle() -> str:
    ctes = [
        _PX.strip().removeprefix("WITH "),
        """valid AS (
      SELECT cast(row AS bigint) * 64 + col AS pid, col, row, value
      FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    )""",
        """offs AS (
      SELECT * FROM (VALUES
        (0,  1,  0, CAST(1.0 AS DOUBLE)), (1,  1,  1, sqrt(CAST(2.0 AS DOUBLE))),
        (2,  0,  1, CAST(1.0 AS DOUBLE)), (3, -1,  1, sqrt(CAST(2.0 AS DOUBLE))),
        (4, -1,  0, CAST(1.0 AS DOUBLE)), (5, -1, -1, sqrt(CAST(2.0 AS DOUBLE))),
        (6,  0, -1, CAST(1.0 AS DOUBLE)), (7,  1, -1, sqrt(CAST(2.0 AS DOUBLE)))
      ) AS o(dir, dc, dr, dist)
    )""",
        """grads AS (
      SELECT c.pid, n.pid AS down_pid, o.dir,
             (c.value - n.value) / o.dist AS grad
      FROM valid c
      JOIN offs o ON TRUE
      JOIN valid n ON n.col = c.col + o.dc AND n.row = c.row + o.dr
    )""",
        """edges AS (
      SELECT pid, down_pid FROM (
        SELECT pid, down_pid, grad,
               row_number() OVER (PARTITION BY pid
                                  ORDER BY grad DESC, dir) AS rn
        FROM grads
      ) WHERE rn = 1 AND grad > 0
    )""",
        "a0 AS (SELECT pid, cast(1 AS bigint) AS acc FROM valid)",
    ]
    for k in range(_FA_ROUNDS):
        ctes.append(
            f"""a{k + 1} AS (
      SELECT v.pid,
             cast(1 + coalesce((SELECT sum(u.acc) FROM a{k} u JOIN edges e
                           ON e.pid = u.pid AND e.down_pid = v.pid), 0)
                  AS bigint) AS acc
      FROM a0 v
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT v.col, v.row, a.acc
    FROM a{_FA_ROUNDS} a JOIN valid v ON v.pid = a.pid
    """
    )


@register("raster_flow_accumulation", oracle=_flow_accum_oracle())
def raster_flow_accumulation(spark, sf_dir):
    """D8 flow ACCUMULATION — the second half of the hydrology pair
    (raster_flow_direction builds the drainage graph; this counts, for
    every cell, how many cells drain through it): acc = 1 + Σ acc of
    immediate upstream neighbors, iterated 5 synchronous rounds so the
    oracle can state the exact fixpoint prefix (cells ≤5 steps
    upstream counted — full convergence iterates to the longest flow
    path, exactly like dedup_components iterates to the graph
    diameter).  Stream networks emerge where acc exceeds a threshold.

    Shape: the drainage graph is ONE argmax rank over the shift-join
    gradients (shared with flow_direction), then each round is one
    groupBy(down_pid) partial-aggregated sum + a left join back —
    integer-exact in any order, LAZY localCheckpoint per round
    (fixed-count loop, no driver action — see ml_kmeans_lloyd).  At 100 TB
    the graph is keyed by spatial cell; rounds shuffle |cells| rows
    pre-combined map-side.  (The oracle's correlated per-cell subquery
    states the same sum; the groupBy form is what scales.)
    """
    src, gw = _probe_tiles(spark, sf_dir)
    px = nodata_filter(grid_unpivot(src.filter(F.col("band_id") == "b1")))
    valid = px.select(
        (F.col("row").cast("bigint") * gw + F.col("col")).alias("pid"),
        "col",
        "row",
        "value",
    ).persist()
    cand = valid.select(
        "pid",
        "col",
        "row",
        F.col("value").alias("cv"),
        F.explode(
            F.expr(
                "array(struct(0 as dir,  1 as dc,  0 as dr, cast(1.0 as double) as dist), "
                "struct(1 as dir,  1 as dc,  1 as dr, sqrt(cast(2.0 as double)) as dist), "
                "struct(2 as dir,  0 as dc,  1 as dr, cast(1.0 as double) as dist), "
                "struct(3 as dir, -1 as dc,  1 as dr, sqrt(cast(2.0 as double)) as dist), "
                "struct(4 as dir, -1 as dc,  0 as dr, cast(1.0 as double) as dist), "
                "struct(5 as dir, -1 as dc, -1 as dr, sqrt(cast(2.0 as double)) as dist), "
                "struct(6 as dir,  0 as dc, -1 as dr, cast(1.0 as double) as dist), "
                "struct(7 as dir,  1 as dc, -1 as dr, sqrt(cast(2.0 as double)) as dist))"
            )
        ).alias("o"),
    )
    nbr = valid.select(
        F.col("pid").alias("down_pid"),
        F.col("col").alias("ncol"),
        F.col("row").alias("nrow"),
        F.col("value").alias("nv"),
    )
    grads = cand.join(
        nbr,
        (F.col("ncol") == F.col("col") + F.col("o.dc"))
        & (F.col("nrow") == F.col("row") + F.col("o.dr")),
    ).select(
        "pid",
        "down_pid",
        F.col("o.dir").alias("dir"),
        ((F.col("cv") - F.col("nv")) / F.col("o.dist")).alias("grad"),
    )
    w = Window.partitionBy("pid").orderBy(F.col("grad").desc(), "dir")
    edges = (
        grads.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("grad") > 0))
        .select("pid", "down_pid")
        .persist()
    )
    acc = valid.select("pid", F.lit(1).cast("bigint").alias("acc"))
    for _ in range(_FA_ROUNDS):
        inflow = (
            edges.join(acc, "pid")
            .groupBy(F.col("down_pid").alias("pid"))
            .agg(F.sum("acc").alias("in_acc"))
        )
        acc = (
            valid.select("pid")
            .join(inflow, "pid", "left")
            .select(
                "pid",
                (F.lit(1) + F.coalesce(F.col("in_acc"), F.lit(0)))
                .cast("bigint")
                .alias("acc"),
            )
            .localCheckpoint(eager=False)
        )
    return acc.join(valid, "pid").select("col", "row", "acc")


@register(
    "spatial_nearest",
    oracle=f"""
    {_PX}
    , cands AS (
        SELECT col, row, value,
               transform[3] + (col + 0.5) * transform[1] AS clon,
               transform[6] + (row + 0.5) * transform[5] AS clat
        FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    sites AS (
        SELECT tile_id AS site_tile, pos,
               transform[3] + (col + 0.5) * transform[1] AS lon,
               transform[6] + (row + 0.5) * transform[5] AS lat,
               cast(floor((transform[3] + (col + 0.5) * transform[1] - transform[3])
                          / transform[1]) AS int) AS cell_col,
               cast(floor((transform[6] + (row + 0.5) * transform[5] - transform[6])
                          / transform[5]) AS int) AS cell_row,
               transform[1] AS pw, transform[5] AS ph
        FROM pix WHERE band_id = 'b2' AND pos % 11 = 0
    ),
    nbr AS (
        SELECT s.*, s.cell_col + dc.d AS ncol, s.cell_row + dr.d AS nrow
        FROM sites s,
             (SELECT unnest(generate_series(-1, 1)) AS d) dc,
             (SELECT unnest(generate_series(-1, 1)) AS d) dr
    ),
    scored AS (
        SELECT n.site_tile, n.pos, c.col, c.row, c.value,
               ((n.lon - c.clon) / n.pw) * ((n.lon - c.clon) / n.pw)
             + ((n.lat - c.clat) / n.ph) * ((n.lat - c.clat) / n.ph) AS d2
        FROM nbr n JOIN cands c ON c.col = n.ncol AND c.row = n.nrow
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY site_tile, pos
                                     ORDER BY d2, col, row) AS rn,
               count(*) OVER (PARTITION BY site_tile, pos) AS n_cand
        FROM scored
    )
    SELECT site_tile, pos, col AS near_col, row AS near_row,
           round(d2, 6) AS d2_px,
           cast(round(value * 1000, 0) AS bigint) AS near_v_milli,
           cast(n_cand AS bigint) AS n_cand
    FROM ranked WHERE rn = 1
    """,
)
def spatial_nearest(spark, sf_dir):
    """Grid-local nearest-neighbor match (map-matching / nearest-site
    assignment): for every probe point, the closest valid pixel among
    the 3×3 grid cells around the probe's own cell — argmin with a
    total-order tiebreak, the top-1 companion to spatial_join_grid's
    containment join.

    The neighborhood bound is the SEMANTICS, not an approximation
    shortcut: grid-local matching ("nearest within one cell radius")
    is the standard formulation at scale because it turns NN into an
    EQUI-join — probes explode ×9 to neighbor cell ids, join candidates
    on (col, row), then one row_number per probe.  Candidates per
    probe are bounded by cell density, never |corpus|; an unmatched
    probe (empty neighborhood) drops out in both engines.  Distances
    are computed in PIXEL units (dx/px_w, dy/px_h) so d2 is O(1) and
    6-dp rounding is engine-stable; the argmin itself compares raw
    doubles built from identical parquet values with identical
    association order, then breaks ties on (col, row).

    At 100 TB this is geohash/S2/H3 k-ring matching: same explode,
    same equi-join, same per-cell candidate bound.
    """
    px = grid_unpivot(_tiles(spark, sf_dir))
    tcol = lambda i: F.element_at("transform", i)  # noqa: E731
    cands = (
        px.filter((F.col("band_id") == "b1") & F.col("value").isNotNull())
        .select(
            "col",
            "row",
            "value",
            (tcol(3) + (F.col("col") + 0.5) * tcol(1)).alias("clon"),
            (tcol(6) + (F.col("row") + 0.5) * tcol(5)).alias("clat"),
        )
    )
    lon = tcol(3) + (F.col("col") + 0.5) * tcol(1)
    lat = tcol(6) + (F.col("row") + 0.5) * tcol(5)
    sites = (
        px.filter((F.col("band_id") == "b2") & (F.col("pos") % 11 == 0))
        .select(
            F.col("tile_id").alias("site_tile"),
            "pos",
            lon.alias("lon"),
            lat.alias("lat"),
            F.floor((lon - tcol(3)) / tcol(1)).cast("int").alias("cell_col"),
            F.floor((lat - tcol(6)) / tcol(5)).cast("int").alias("cell_row"),
            tcol(1).alias("pw"),
            tcol(5).alias("ph"),
        )
    )
    d = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    nbr = (
        sites.withColumn("dc", d)
        .withColumn("dr", d)
        .select(
            "*",
            (F.col("cell_col") + F.col("dc")).alias("ncol"),
            (F.col("cell_row") + F.col("dr")).alias("nrow"),
        )
    )
    dx = (F.col("lon") - F.col("clon")) / F.col("pw")
    dy = (F.col("lat") - F.col("clat")) / F.col("ph")
    scored = nbr.join(
        cands, (F.col("col") == F.col("ncol")) & (F.col("row") == F.col("nrow"))
    ).select(
        "site_tile", "pos", "col", "row", "value", (dx * dx + dy * dy).alias("d2")
    )
    w = Window.partitionBy("site_tile", "pos")
    ranked = scored.select(
        "*",
        F.row_number().over(w.orderBy("d2", "col", "row")).alias("rn"),
        F.count("*").over(w).alias("n_cand"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "site_tile",
        "pos",
        F.col("col").alias("near_col"),
        F.col("row").alias("near_row"),
        F.round("d2", 6).alias("d2_px"),
        F.round(F.col("value") * 1000, 0).cast("bigint").alias("near_v_milli"),
        F.col("n_cand").cast("bigint").alias("n_cand"),
    )


@register(
    "raster_contour_cells",
    oracle=_PX
    + """
    , corners AS (
      SELECT p.col - o.dc AS cc, p.row - o.dr AS cr,
             o.dc, o.dr,
             CASE WHEN p.value >= 50.0 THEN 1 ELSE 0 END AS b
      FROM pix p
      CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) AS o(dc, dr)
      WHERE p.band_id = 'b1' AND p.value IS NOT NULL
    ),
    cells AS (
      SELECT cc, cr,
             count(*) AS n_corners,
             sum(b << (dc + 2 * dr)) AS case_idx
      FROM corners GROUP BY 1, 2
    )
    SELECT cast(case_idx AS bigint) AS case_idx,
           cast(count(*) AS bigint) AS n_cells
    FROM cells
    WHERE n_corners = 4
    GROUP BY 1
    """,
)
def raster_contour_cells(spark, sf_dir):
    """Marching-squares CASE CLASSIFICATION at iso-level 50 — the
    first (and the only data-parallel) stage of contour extraction:
    every 2×2 pixel cell gets its 4-bit corner-threshold index
    (0 = all below … 15 = all above; the index determines which
    contour segments cross the cell), histogrammed over the raster.

    Scale-first stencil, same discipline as raster_focal_mean: each
    pixel SCATTERS to the ≤4 cells it corners (a 4-row explode
    carrying its threshold bit pre-shifted into place), ONE
    groupBy(cell) sums the bits into the case index — never a 4-way
    self-join of the pixel stream; cells missing a corner (raster
    edge, nodata hole) are dropped by the n_corners == 4 guard
    exactly as the semi-join mask drops the focal halo.  The
    16-row histogram collapses map-side.
    """
    px = nodata_filter(
        grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1"))
    )
    offsets = F.expr(
        "explode(array(struct(0 as dc, 0 as dr), struct(1 as dc, 0 as dr), "
        "struct(0 as dc, 1 as dr), struct(1 as dc, 1 as dr)))"
    )
    corners = px.select(
        "col",
        "row",
        F.when(F.col("value") >= 50.0, 1).otherwise(0).alias("b"),
        offsets.alias("o"),
    ).select(
        (F.col("col") - F.col("o.dc")).alias("cc"),
        (F.col("row") - F.col("o.dr")).alias("cr"),
        F.expr("shiftleft(b, o.dc + 2 * o.dr)").alias("bit"),
    )
    cells = corners.groupBy("cc", "cr").agg(
        F.count("*").alias("n_corners"), F.sum("bit").alias("case_idx")
    )
    return (
        cells.filter(F.col("n_corners") == 4)
        .groupBy(F.col("case_idx").cast("bigint").alias("case_idx"))
        .agg(F.count("*").cast("bigint").alias("n_cells"))
    )


@register(
    "spatial_point_in_polygon",
    oracle=_PX
    + """
    , pts AS (
      SELECT col + 0.5 AS x, row + 0.5 AS y, value
      FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    edges AS (
      SELECT * FROM (VALUES
        (32.0, 4.0, 56.0, 24.0), (56.0, 24.0, 48.0, 56.0),
        (48.0, 56.0, 16.0, 56.0), (16.0, 56.0, 8.0, 24.0),
        (8.0, 24.0, 32.0, 4.0)
      ) AS e(x1, y1, x2, y2)
    ),
    crossings AS (
      SELECT p.x, p.y, p.value, count(*) AS k
      FROM pts p JOIN edges e
        ON ((e.y1 > p.y) <> (e.y2 > p.y))
       AND p.x < e.x1 + (p.y - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)
      GROUP BY 1, 2, 3
    )
    SELECT cast(count(*) AS bigint) AS n_inside,
           round(sum(cast(round(value * 1000) AS bigint)) / 1000.0, 2) AS sum_inside
    FROM crossings WHERE k % 2 = 1
    """,
)
def spatial_point_in_polygon(spark, sf_dir):
    """Point-in-polygon by RAY CASTING against a broadcast edge table
    — the vector-overlay primitive (zonal masks, geofences, admin
    boundaries): a point is inside the pentagon iff a +x ray crosses
    an odd number of edges.

    The polygon is |edges| rows (constant, broadcast); each point
    evaluates the crossing predicate against all edges INSIDE the
    hash-join residual — O(|points|·|edges|) work but never a
    point-point join, which is how PIP scales: polygons are small,
    point sets are the 100 TB side and stream through unshuffled
    until the final 1-row aggregate.  Points sit at half-integer
    coordinates so no ray passes through a vertex (the classic
    degeneracy), making the odd/even parity exact in both engines —
    the crossing test is the same float expression twinned.
    """
    px = nodata_filter(
        grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1"))
    )
    pts = px.select(
        (F.col("col") + 0.5).alias("x"), (F.col("row") + 0.5).alias("y"), "value"
    )
    # The polygon is a CONSTANT 5-edge table, so the per-point crossing
    # count folds IN-ROW over a literal edge array (one aggregate() per
    # point, whole-stage codegen) instead of a broadcast nested-loop
    # join + groupBy(x, y, value): that shape amplified the point
    # stream |edges|x into an Exchange before re-collapsing it — two
    # plan nodes and a shuffle for what is arithmetic on constants.
    # The crossing predicate is the SAME float expression per
    # (point, edge), and k is an exact integer either way, so the
    # odd/even parity (and the oracle's join+count twin) is unchanged.
    edges = [
        (32.0, 4.0, 56.0, 24.0),
        (56.0, 24.0, 48.0, 56.0),
        (48.0, 56.0, 16.0, 56.0),
        (16.0, 56.0, 8.0, 24.0),
        (8.0, 24.0, 32.0, 4.0),
    ]
    edge_arr = F.array(
        *[
            F.struct(
                F.lit(x1).alias("x1"),
                F.lit(y1).alias("y1"),
                F.lit(x2).alias("x2"),
                F.lit(y2).alias("y2"),
            )
            for x1, y1, x2, y2 in edges
        ]
    )
    crossing = lambda e: (
        ((e["y1"] > F.col("y")) != (e["y2"] > F.col("y")))
        & (
            F.col("x")
            < e["x1"]
            + (F.col("y") - e["y1"]) * (e["x2"] - e["x1"]) / (e["y2"] - e["y1"])
        )
    )
    k = pts.withColumn(
        "k",
        F.aggregate(
            edge_arr,
            F.lit(0),
            lambda acc, e: acc + F.when(crossing(e), 1).otherwise(0),
        ),
    )
    # value is 3-dp data: accumulate EXACT integer milli-units so the
    # sum is partition-order-independent, divide once at the end (the
    # float-sum .005-boundary class caught by the differ)
    return k.filter(F.col("k") % 2 == 1).agg(
        F.count("*").cast("bigint").alias("n_inside"),
        F.round(
            F.sum(F.round(F.col("value") * 1000).cast("bigint")) / 1000.0, 2
        ).alias("sum_inside"),
    )


@register(
    "raster_mosaic_priority",
    oracle=_PX
    + """
    , acq1 AS (
      SELECT col, row, value, 1 AS src
      FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    acq2 AS (
      SELECT col + 8 AS col, row + 8 AS row, value + 1000.0 AS value, 2 AS src
      FROM pix WHERE band_id = 'b1' AND value IS NOT NULL
    ),
    stacked AS (
      SELECT * FROM acq1 UNION ALL SELECT * FROM acq2
    ),
    mosaic AS (
      SELECT col, row, arg_max(value, src) AS value, max(src) AS chosen
      FROM stacked GROUP BY col, row
    )
    SELECT chosen AS src,
           cast(count(*) AS bigint) AS n_pixels,
           round(sum(cast(round(value * 1000) AS bigint)) / 1000.0, 2) AS sum_value
    FROM mosaic
    GROUP BY chosen
    """,
)
def raster_mosaic_priority(spark, sf_dir):
    """Priority MOSAIC of overlapping acquisitions — the compositing
    op every raster pipeline runs when flight lines / satellite
    passes overlap: per OUTPUT pixel, take the value from the
    highest-priority source that covers it (here: a synthetic second
    acquisition shifted by 8 px with priority 2 over the base grid).

    Scale shape: acquisitions stack as a UNION (no join — coverage
    resolution is a GROUP BY (col, row) with max_by(value, priority),
    one content-keyed shuffle whose payload is the overlap region's
    pixels; map-side combine collapses per-partition duplicates
    first).  Priorities are ints so max_by stays hash-agg mutable
    (the cdc_net_changes lesson); nodata pixels drop BEFORE the
    stack, so a hole in the high-priority scene correctly falls
    through to the lower one — the semantics that make mosaics
    different from plain overwrite.  Sums in exact milli-units
    (R1b).  Output: per-source pixel accounting — how much of the
    mosaic each acquisition won.
    """
    px = nodata_filter(
        grid_unpivot(_tiles(spark, sf_dir).filter(F.col("band_id") == "b1"))
    ).select("col", "row", "value")
    acq1 = px.select("col", "row", "value", F.lit(1).alias("src"))
    acq2 = px.select(
        (F.col("col") + 8).alias("col"),
        (F.col("row") + 8).alias("row"),
        (F.col("value") + 1000.0).alias("value"),
        F.lit(2).alias("src"),
    )
    mosaic = (
        acq1.unionByName(acq2)
        .groupBy("col", "row")
        .agg(
            F.max_by("value", "src").alias("value"),
            F.max("src").alias("chosen"),
        )
    )
    return mosaic.groupBy(F.col("chosen").alias("src")).agg(
        F.count("*").cast("bigint").alias("n_pixels"),
        F.round(
            F.sum(F.round(F.col("value") * 1000).cast("bigint")) / 1000.0, 2
        ).alias("sum_value"),
    )


@register(
    "scan_raster_catalog",
    oracle="""
    SELECT file, CAST(width AS int) AS width, CAST(height AS int) AS height,
           CAST(n_bands AS int) AS n_bands, dtype,
           CAST(compression AS int) AS compression, tiled,
           CAST(bits AS int) AS bits, CAST(n_overviews AS int) AS n_overviews,
           has_mask, CAST(crs AS varchar) AS crs,
           CAST(nodata AS double) AS nodata,
           CAST(x0 AS double) AS x0, CAST(y0 AS double) AS y0,
           CAST(x1 AS double) AS x1, CAST(y1 AS double) AS y1
    FROM (VALUES
      ('elev.tif',        4, 2, 1, 'float64', 8, false, 64, 0, false, 'EPSG:4326', -9999.0, 10.0, 44.0, 12.0, 45.0),
      ('mask1.tif',       4, 2, 1, 'uint8',   1, false,  1, 0, false, 'EPSG:4326',     0.0, 10.0, 44.0, 12.0, 45.0),
      ('pyramid.tif',     8, 4, 1, 'float64', 8, false, 64, 2, false, 'EPSG:4326', -9999.0, 10.0, 43.0, 14.0, 45.0),
      ('slope.tif',       4, 2, 1, 'float64', 1, false, 64, 0, false, NULL,        -9999.0, 10.0, 44.0, 12.0, 45.0),
      ('sparse_mask.tif', 4, 4, 1, 'float64', 8, true,  64, 0, true,  'EPSG:4326', -9999.0, 10.0, 43.0, 12.0, 45.0),
      ('stack2.tif',      4, 2, 2, 'float64', 8, true,  64, 0, false, 'EPSG:4326', -9999.0, 10.0, 44.0, 12.0, 45.0)
    ) AS t(file, width, height, n_bands, dtype, compression, tiled, bits,
           n_overviews, has_mask, crs, nodata, x0, y0, x1, y1)
    """,
)
def scan_raster_catalog(spark, sf_dir):
    """[r12] Distributed raster CATALOG — how a 100 TB COG mosaic is
    entered: one metadata row per file (dims, bands, dtype, codec,
    strip/tile layout, bit depth, overview count, internal-mask
    presence, CRS from the geokey directory — NULL for pre-geokey
    files, the absent path slope.tif pins — nodata, georeferenced
    bounds from the affine), parsed
    EXECUTOR-side via mapInPandas over the path list so thousands of
    per-file header reads (a few KB each — just the IFD chain)
    parallelize instead of serializing on the driver, the same shape
    as Spark's own parquet-footer listing.  Extent planning (which
    files intersect a query bbox, which carry overviews, which dtypes
    mix) then runs as ordinary relational ops on this catalog without
    touching a single pixel.

    Oracle: the 6 committed byte-stable fixtures' headers as a VALUES
    literal — catalog parity doubles as a standing regression gate on
    every header field the reader exposes (sparse_mask.tif proves
    has_mask detection; pyramid.tif the overview count)."""
    import os as _os

    from raster2points_spark.sources.minitiff import minitiff_catalog
    from raster2points_spark.queries._util import REPO_ROOT

    d = _os.path.join(REPO_ROOT, "fixtures", "tif")
    paths = [_os.path.join(d, f) for f in sorted(_os.listdir(d))]
    return minitiff_catalog(spark, paths)


@register(
    "raster_extent_prune",
    oracle="""
    SELECT file, CAST(n_valid AS bigint) AS n_valid,
           CAST(sum_val AS double) AS sum_val
    FROM (VALUES
      ('pyramid.tif', 4, 82.0),
      ('sparse_mask.tif', 4, 46.0)
    ) AS t(file, n_valid, sum_val)
    """,
)
def raster_extent_prune(spark, sf_dir):
    """[r12] Catalog-driven extent pruning — the 100 TB mosaic query
    pattern end-to-end: a bbox query consults the distributed header
    CATALOG first (bounds from transforms, zero pixel I/O), collects
    only the SURVIVING file list to the driver (file metadata — the
    same driver-sized listing Spark's own file index does), reads just
    those files' tiles, and filters pixel centers to the bbox.  Here
    the bbox (10.2, 43.1)–(11.0, 43.9) prunes 6 committed fixtures
    down to 2 (the four 44–45° rasters never open), and the survivors
    contribute 4 in-bbox valid pixels each.  Oracle = the golden
    VALUES answer derivable from the fixtures' content by hand.

    Scale shape: prune cost ∝ catalog (headers), read cost ∝ surviving
    tiles ∩ bbox — the two-level pruning every raster warehouse
    (GDAL VRT, STAC + COG) is built on, expressed as engine relational
    ops.  Matched files here are single-band; a multi-band survivor
    would take the positional-names path instead."""
    import os as _os

    from raster2points_spark.sources.minitiff import (
        minitiff_catalog,
        minitiff_to_tiles,
    )
    from raster2points_spark.queries._util import REPO_ROOT

    d = _os.path.join(REPO_ROOT, "fixtures", "tif")
    paths = [_os.path.join(d, f) for f in sorted(_os.listdir(d))]
    qx0, qy0, qx1, qy1 = 10.2, 43.1, 11.0, 43.9
    hit = [
        r.file
        for r in minitiff_catalog(spark, paths)
        .filter(
            (F.col("x0") < qx1)
            & (F.col("x1") > qx0)
            & (F.col("y0") < qy1)
            & (F.col("y1") > qy0)
        )
        .select("file")
        .collect()
    ]
    hit_paths = [_os.path.join(d, f) for f in sorted(hit)]
    tiles = minitiff_to_tiles(spark, hit_paths, band_ids=sorted(hit))
    px = affine_coords(nodata_filter(grid_unpivot(tiles)))
    return (
        px.filter(
            (F.col("lon") >= qx0)
            & (F.col("lon") <= qx1)
            & (F.col("lat") >= qy0)
            & (F.col("lat") <= qy1)
        )
        .groupBy(F.col("band_id").alias("file"))
        .agg(
            F.count("*").alias("n_valid"),
            F.round(F.sum("value"), 3).alias("sum_val"),
        )
    )


def _pick_levels(spark, path_factors):
    """Per-file overview-level picks for a survivor list, through
    map_headers' one driver-vs-executor rule (small survivor lists
    pick in a driver loop with zero Spark jobs; large ones parallelize
    their header I/O executor-side).  Returns {path: level} keyed by
    the FULL input path (ADVICE r14: basename keying silently collided
    same-named files in different directories); callers that want
    basenames take them themselves."""
    from raster2points_spark.sources.minitiff import map_headers, pick_overview

    pairs = list(path_factors)
    levels = map_headers(spark, lambda pf: pick_overview(*pf), pairs)
    return {p: lvl for (p, _), lvl in zip(pairs, levels)}


@register(
    "raster_overview_prune",
    oracle="""
    SELECT file, CAST(level AS int) AS level,
           CAST(n_valid AS bigint) AS n_valid,
           CAST(sum_val AS double) AS sum_val
    FROM (VALUES
      ('pyramid.tif', 1, 1, 20.5),
      ('sparse_mask.tif', 0, 4, 46.0)
    ) AS t(file, level, n_valid, sum_val)
    """,
)
def raster_overview_prune(spark, sf_dir):
    """[r13] Overview-aware extent pruning — the full STAC+COG serving
    pattern (VERDICT r12 #2): a bbox + TARGET-RESOLUTION query (a) consults
    the distributed header catalog to drop files outside the bbox (zero
    pixel I/O), then (b) picks, PER SURVIVING FILE, the cheapest pyramid
    level whose decimation still satisfies the target resolution (GDAL's
    overview rule via pick_overview; the decimation factor is computed
    from each file's CATALOG-recorded native resolution, so mixed-res
    mosaics get per-file levels), and (c) reads only those levels' tiles
    — 1/4^k of the bytes per level step.  Here the bbox
    (10.2, 43.1)-(11.0, 43.9) at target 1.0 deg/px prunes 6 fixtures to
    2: pyramid.tif (native 0.5, factor 2) reads its level-1 overview
    (one in-bbox pixel, the 2x2 box mean 20.5), sparse_mask.tif has no
    pyramid and degrades to full res (4 pixels, sum 46).  Oracle = the
    golden VALUES answer derivable from the committed fixtures by hand.

    Scale shape: catalog prune ∝ headers; level pick ∝ surviving
    headers (executor-side above map_headers' threshold); pixel I/O ∝
    surviving tiles at the CHOSEN level ∩ bbox — the two-level prune
    of raster_extent_prune with the pyramid as a third, multiplicative
    lever."""
    import os as _os

    from raster2points_spark.sources.minitiff import (
        minitiff_catalog,
        minitiff_to_tiles,
    )
    from raster2points_spark.queries._util import REPO_ROOT

    d = _os.path.join(REPO_ROOT, "fixtures", "tif")
    paths = [_os.path.join(d, f) for f in sorted(_os.listdir(d))]
    qx0, qy0, qx1, qy1 = 10.2, 43.1, 11.0, 43.9
    target_res = 1.0  # deg/px the consumer actually needs
    # (a) bbox prune off the catalog; keep native res for the factor
    hit = (
        minitiff_catalog(spark, paths)
        .filter(
            (F.col("x0") < qx1)
            & (F.col("x1") > qx0)
            & (F.col("y0") < qy1)
            & (F.col("y1") > qy0)
        )
        .select("file", ((F.col("x1") - F.col("x0")) / F.col("width")).alias("res"))
        .collect()
    )
    # (b) cheapest sufficient level per survivor (header-only I/O) —
    # small survivor lists pick on the driver, large ones executor-side
    levels = {
        _os.path.basename(p): lvl
        for p, lvl in _pick_levels(
            spark, [(_os.path.join(d, r.file), target_res / r.res) for r in hit]
        ).items()
    }
    # (c) one tile read per distinct level, union — each branch reads
    # only that level's blocks and tags rows with the level it chose
    out = None
    for lvl in sorted(set(levels.values())):
        files = sorted(f for f, k in levels.items() if k == lvl)
        tiles = minitiff_to_tiles(
            spark,
            [_os.path.join(d, f) for f in files],
            band_ids=files,
            overview_level=lvl,
        )
        px = affine_coords(nodata_filter(grid_unpivot(tiles))).withColumn(
            "level", F.lit(lvl)
        )
        out = px if out is None else out.unionByName(px)
    return (
        out.filter(
            (F.col("lon") >= qx0)
            & (F.col("lon") <= qx1)
            & (F.col("lat") >= qy0)
            & (F.col("lat") <= qy1)
        )
        .groupBy(F.col("band_id").alias("file"), "level")
        .agg(
            F.count("*").alias("n_valid"),
            F.round(F.sum("value"), 3).alias("sum_val"),
        )
    )


@register(
    "raster_mosaic_hetero",
    oracle="""
    SELECT CAST(lon AS double) AS lon, CAST(lat AS double) AS lat,
           CAST(value AS double) AS value, src
    FROM (VALUES
      (10.5, 45.5, 100.0, 'coarse'), (11.5, 45.5, 101.0, 'coarse'),
      (12.5, 45.5, 102.0, 'coarse'), (13.5, 45.5, 103.0, 'coarse'),
      (10.5, 44.5,   3.5, 'fine'),   (11.5, 44.5, 105.0, 'coarse'),
      (12.5, 44.5, 106.0, 'coarse'), (13.5, 44.5, 107.0, 'coarse'),
      (10.5, 43.5,  11.5, 'fine'),   (11.5, 43.5,  13.5, 'fine'),
      (12.5, 43.5, 110.0, 'coarse'), (13.5, 43.5, 111.0, 'coarse'),
      (10.5, 42.5, 112.0, 'coarse'), (11.5, 42.5, 113.0, 'coarse'),
      (12.5, 42.5, 114.0, 'coarse'), (13.5, 42.5, 115.0, 'coarse')
    ) AS t(lon, lat, value, src)
    """,
)
def raster_mosaic_hetero(spark, sf_dir):
    """[r13] Heterogeneous-resolution mosaic — the GDAL VRT shape
    (VERDICT r12 #3): the eager pre-flight refuses mixed-resolution
    inputs (reference parity, api._paths_preflight); THIS key is the
    composed escape hatch it points at.  (a) the finer raster is
    resampled to the coarser grid by inverse-affine bucketing (floor
    to target cell + box MEAN of valid source pixels — GDAL 'average',
    nodata excluded, exactly raster_downsample's shape on a foreign
    grid), then (b) priority mosaic: fine-resampled wins wherever it
    produced a cell, the coarse value fills everywhere else
    (raster_mosaic_priority's coalesce).  Over the committed
    fixtures/tif_mixed pair (fine 4x4 @0.5 deg with one all-nodata 2x2
    block; coarse 4x4 @1.0 deg, larger extent) the output is the full
    16-cell coarse grid: 3 fine box means win, the nodata block and
    the 12 never-covered cells fall through to coarse.  Oracle = the
    hand-derived golden VALUES.

    Scale shape: one pass over each raster's pixels, one groupBy on
    target cell (partial-agg'd box means), one equi-join on cell id —
    no resolution pair changes the plan; the target grid's origin/res
    come from the coarse header (driver-side metadata, zero pixel
    I/O)."""
    import os as _os

    from raster2points_spark.sources.minitiff import (
        minitiff_to_tiles,
        read_header,
    )
    from raster2points_spark.queries._util import REPO_ROOT

    d = _os.path.join(REPO_ROOT, "fixtures", "tif_mixed")
    coarse_p = _os.path.join(d, "coarse.tif")
    fine_p = _os.path.join(d, "fine.tif")
    # target grid = the coarse raster's (header-only driver read)
    ch = read_header(coarse_p)
    x0, res = ch.transform[2], ch.transform[0]
    y0 = ch.transform[5]

    tiles = minitiff_to_tiles(
        spark, [coarse_p, fine_p], band_ids=["coarse", "fine"]
    )
    px = affine_coords(nodata_filter(grid_unpivot(tiles)))
    cell = px.withColumn(
        "tc", F.floor((F.col("lon") - F.lit(x0)) / F.lit(res)).cast("int")
    ).withColumn(
        "tr", F.floor((F.lit(y0) - F.col("lat")) / F.lit(res)).cast("int")
    )
    fine_cells = (
        cell.filter(F.col("band_id") == "fine")
        .groupBy("tr", "tc")
        .agg(F.avg("value").alias("fine_val"))
    )
    coarse_cells = cell.filter(F.col("band_id") == "coarse").select(
        "tr", "tc", F.col("value").alias("coarse_val")
    )
    return (
        coarse_cells.join(fine_cells, ["tr", "tc"], "left")
        .select(
            (F.lit(x0) + (F.col("tc") + 0.5) * F.lit(res)).alias("lon"),
            (F.lit(y0) - (F.col("tr") + 0.5) * F.lit(res)).alias("lat"),
            F.round(F.coalesce("fine_val", "coarse_val"), 3).alias("value"),
            F.when(F.col("fine_val").isNotNull(), F.lit("fine"))
            .otherwise(F.lit("coarse"))
            .alias("src"),
        )
    )


@register(
    "sink_geotiff",
    oracle="""
    WITH px AS (
      SELECT f.f, r.r, c.c, CAST(f.f * 10000 + r.r * 32 + c.c AS DOUBLE) AS v
      FROM generate_series(0, 1) f(f),
           generate_series(0, 31) r(r),
           generate_series(0, 31) c(c)
      WHERE NOT (f.f = 1 AND r.r < 16 AND c.c < 16)
        AND (r.r * 32 + c.c) % 37 <> 0
    )
    SELECT 't' || f AS file, CAST(count(*) AS bigint) AS n_valid,
           round(sum(v), 3) AS sum_val,
           min(10 + 20 * f + (c + 0.5) * 0.5) AS lon_min,
           max(45 - (r + 0.5) * 0.5) AS lat_max
    FROM px GROUP BY 1
    """,
)
def sink_geotiff(spark, sf_dir):
    """[r13] Distributed GeoTIFF SINK + hash-gated roundtrip — the
    write half of the raster story (sources/minitiff.py is the read
    half): a deterministic 2-file x 32x32 pixel relation (value =
    file*10000 + row*32 + col; every 37th cell absent, and file t1's
    whole top-left 16x16 quadrant absent so its tile stores SPARSE) is
    written as tiled (16x16) deflate GeoTIFFs with GDAL_NODATA and
    per-file geo tags via sinks.geotiff.write_geotiffs — ONE shuffle
    (groupBy file_id), each task assembling, zlib-encoding and
    atomically writing its own file, the parquet-task write pattern
    applied to COGs.  The files are then re-read through the standard
    minitiff -> unpivot -> nodata -> affine chain and aggregated per
    file; the oracle REGENERATES the same relation arithmetically in
    DuckDB — a full encode->decode->points hash gate covering tiling,
    padding, sparse tiles, nodata and the geo transform.

    At 100 TB: the writer's per-task state is ONE file's raster (the
    caller shards the target grid into file_ids); the manifest it
    returns is the audit relation a catalog ingests
    (scan_raster_catalog reads these files' headers right back).
    Absent cells and NaNs encode as nodata — the write twin of the
    reader's mask-first semantics."""
    import os as _os

    from raster2points_spark.queries._util import SCRATCH
    from raster2points_spark.sinks.geotiff import write_geotiffs
    from raster2points_spark.sources.minitiff import minitiff_to_tiles

    w = h = 32
    ids = F.col("id")
    pixels = (
        spark.range(2 * w * h)
        .select(
            (ids / (w * h)).cast("int").alias("f"),
            ((ids % (w * h)) / w).cast("int").alias("row"),
            (ids % w).cast("int").alias("col"),
        )
        .filter(
            ~((F.col("f") == 1) & (F.col("row") < 16) & (F.col("col") < 16))
            & ((F.col("row") * w + F.col("col")) % 37 != 0)
        )
        .select(
            F.concat(F.lit("t"), F.col("f")).alias("file_id"),
            F.lit(1).alias("band"),
            "row",
            "col",
            (F.col("f") * 10000 + F.col("row") * w + F.col("col"))
            .cast("double")
            .alias("value"),
        )
    )
    origins = spark.range(2).select(
        F.concat(F.lit("t"), F.col("id")).alias("file_id"),
        (10.0 + 20 * F.col("id")).cast("double").alias("lon0"),
        F.lit(45.0).alias("lat0"),
    )
    out_dir = _os.path.join(SCRATCH, "sink_geotiff")
    manifest = write_geotiffs(
        pixels,
        out_dir,
        width=w,
        height=h,
        pixel_scale=(0.5, 0.5),
        origins=origins,
        nodata=-9999.0,
        dtype="f8",
        tile=(16, 16),
        sparse=True,
    )
    # the write IS an action (sink semantics, like sink_parquet's
    # write_parquet): materialize the manifest once, then re-read
    manifest.write.format("noop").mode("overwrite").save()
    files = ["t0", "t1"]
    tiles = minitiff_to_tiles(
        spark, [_os.path.join(out_dir, f + ".tif") for f in files], band_ids=files
    )
    px = affine_coords(nodata_filter(grid_unpivot(tiles)))
    return px.groupBy(F.col("band_id").alias("file")).agg(
        F.count("*").alias("n_valid"),
        F.round(F.sum("value"), 3).alias("sum_val"),
        F.min("lon").alias("lon_min"),
        F.max("lat").alias("lat_max"),
    )


@register(
    "sink_geotiff_pyramid",
    oracle="""
    WITH px AS (
      SELECT r.r, c.c, CAST(r.r * 32 + c.c AS DOUBLE) AS v
      FROM generate_series(0, 31) r(r), generate_series(0, 31) c(c)
      WHERE NOT (r.r < 16 AND c.c < 16) AND (r.r * 32 + c.c) % 37 <> 0
    ),
    ov AS (
      SELECT r // 2 AS orow, c // 2 AS ocol, avg(v) AS value
      FROM px GROUP BY 1, 2
    )
    SELECT 10 + (ocol + 0.5) * 1.0 AS lon, 45 - (orow + 0.5) * 1.0 AS lat,
           round(value, 6) AS value
    FROM ov
    """,
)
def sink_geotiff_pyramid(spark, sf_dir):
    """[r13] COG pyramid WRITE + overview readback — closes the loop
    with raster_overview_prune (which SERVES pyramid levels, and can
    now serve levels this engine wrote): the sink_geotiff pixel
    relation (32x32, top-left 16x16 quadrant absent -> a sparse tile,
    every 37th cell absent) is written with ``overviews=1`` — the
    writer derives the level-1 image as 2x2 NODATA-EXCLUDING box means
    (GDAL's "average" resampling) and appends it as a chained IFD with
    no geo tags, per the GDAL convention — then the LEVEL-1 image is
    read back via minitiff_to_tiles(overview_level=1) through the
    standard unpivot->nodata->affine chain.  The oracle regenerates
    the full-res pixels arithmetically and aggregates the same
    2x2 box means in SQL: a hash gate proving write-side pyramid
    math, IFD chaining, transform inheritance+scaling and
    nodata-propagation (all-absent quads -> nodata -> dropped) agree
    with an independent engine.  All values are small integers, so
    sum/count means are exact in f8 and the comparison is
    engine-exact at 6 dp.

    At 100 TB: overview generation at WRITE time is what makes the
    raster_overview_prune serving pattern possible at all — each
    write task derives its own file's pyramid in-memory (bounded by
    the file, never the dataset) instead of a separate full-dataset
    downsample job."""
    import os as _os

    from raster2points_spark.queries._util import SCRATCH
    from raster2points_spark.sinks.geotiff import write_geotiffs
    from raster2points_spark.sources.minitiff import minitiff_to_tiles

    w = h = 32
    ids = F.col("id")
    pixels = (
        spark.range(w * h)
        .select(
            (ids / w).cast("int").alias("row"),
            (ids % w).cast("int").alias("col"),
        )
        .filter(
            ~((F.col("row") < 16) & (F.col("col") < 16))
            & ((F.col("row") * w + F.col("col")) % 37 != 0)
        )
        .select(
            F.lit("p0").alias("file_id"),
            F.lit(1).alias("band"),
            "row",
            "col",
            (F.col("row") * w + F.col("col")).cast("double").alias("value"),
        )
    )
    origins = spark.range(1).select(
        F.lit("p0").alias("file_id"),
        F.lit(10.0).alias("lon0"),
        F.lit(45.0).alias("lat0"),
    )
    out_dir = _os.path.join(SCRATCH, "sink_geotiff_pyramid")
    manifest = write_geotiffs(
        pixels,
        out_dir,
        width=w,
        height=h,
        pixel_scale=(0.5, 0.5),
        origins=origins,
        tile=(16, 16),
        sparse=True,
        overviews=1,
    )
    manifest.write.format("noop").mode("overwrite").save()
    tiles = minitiff_to_tiles(
        spark, [_os.path.join(out_dir, "p0.tif")], band_ids=["p0"], overview_level=1
    )
    px = affine_coords(nodata_filter(grid_unpivot(tiles)))
    return px.select("lon", "lat", F.round("value", 6).alias("value"))


@register(
    "sink_geotiff_lzw",
    oracle="""
    WITH px AS (
      SELECT r.r, c.c, CAST((r.r * 31 + c.c * 17) % 97 AS DOUBLE) AS v
      FROM generate_series(0, 31) r(r), generate_series(0, 31) c(c)
      WHERE (r.r * 32 + c.c) % 11 <> 0
    )
    SELECT 45 - (r + 0.5) * 0.5 AS lat, CAST(count(*) AS bigint) AS n,
           round(sum(v), 3) AS sum_v,
           CAST(5 AS int) AS compression, 'EPSG:32633' AS crs
    FROM px GROUP BY 1
    """,
)
def sink_geotiff_lzw(spark, sf_dir):
    """[r14] TIFF-LZW WRITE + predictor-3 + projected-CRS roundtrip
    (VERDICT r13 #6): the encoder's LZW codec (spec §13, pure Python,
    exactly inverse to the reader's decoder) and the float byte
    shuffle are exercised through the full distributed
    write->catalog->read chain: a deterministic 32x32 pixel relation
    (value = (row*31 + col*17) mod 97, every 11th cell absent) is
    written LZW-compressed with predictor 3 and EPSG:32633 geokeys,
    then read back through the standard unpivot->nodata->affine chain
    and aggregated per latitude row — with the written file's CATALOG
    row (codec id 5, crs) broadcast onto every output row, so the
    DuckDB hash gate pins codec selection, CRS geokeys AND pixel
    fidelity in one oracle.  LZW is the most common legacy-GeoTIFF
    codec; writing it closes the read/write asymmetry the r13 verdict
    flagged (reader decoded LZW, writer only deflate).

    At 100 TB: codec choice is per-task CPU/byte trade, plan shape
    identical to sink_geotiff — one shuffle, one file per task."""
    import os as _os

    from raster2points_spark.queries._util import SCRATCH
    from raster2points_spark.sinks.geotiff import write_geotiffs
    from raster2points_spark.sources.minitiff import (
        minitiff_catalog,
        minitiff_to_tiles,
    )

    w = h = 32
    ids = F.col("id")
    pixels = (
        spark.range(w * h)
        .select(
            (ids / w).cast("int").alias("row"),
            (ids % w).cast("int").alias("col"),
        )
        .filter((F.col("row") * w + F.col("col")) % 11 != 0)
        .select(
            F.lit("z0").alias("file_id"),
            F.lit(1).alias("band"),
            "row",
            "col",
            ((F.col("row") * 31 + F.col("col") * 17) % 97)
            .cast("double")
            .alias("value"),
        )
    )
    origins = spark.range(1).select(
        F.lit("z0").alias("file_id"),
        F.lit(10.0).alias("lon0"),
        F.lit(45.0).alias("lat0"),
    )
    out_dir = _os.path.join(SCRATCH, "sink_geotiff_lzw")
    manifest = write_geotiffs(
        pixels,
        out_dir,
        width=w,
        height=h,
        pixel_scale=(0.5, 0.5),
        origins=origins,
        tile=(16, 16),
        compression="lzw",
        predictor=3,
        crs_epsg=32633,
    )
    manifest.write.format("noop").mode("overwrite").save()
    path = _os.path.join(out_dir, "z0.tif")
    tiles = minitiff_to_tiles(spark, [path], band_ids=["z0"])
    px = affine_coords(nodata_filter(grid_unpivot(tiles)))
    meta = minitiff_catalog(spark, [path]).select("compression", "crs")
    return (
        px.groupBy("lat")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 3).alias("sum_v"),
        )
        .crossJoin(F.broadcast(meta))
    )


@register(
    "raster_mosaic_crs_groups",
    oracle="""
    SELECT crs, CAST(n_files AS bigint) AS n_files,
           CAST(x0 AS double) AS x0, CAST(y0 AS double) AS y0,
           CAST(x1 AS double) AS x1, CAST(y1 AS double) AS y1,
           CAST(cols AS int) AS cols, CAST(rows AS int) AS rows
    FROM (VALUES
      ('EPSG:32633', 2, 500000.0, 4183984.0, 500032.0, 4184000.0, 32, 16),
      ('EPSG:4326',  2, 10.0, 44.0, 26.0, 52.0, 32, 16)
    ) AS t(crs, n_files, x0, y0, x1, y1, cols, rows)
    """,
)
def raster_mosaic_crs_groups(spark, sf_dir):
    """[r14] CRS-aware mosaic PLANNING off the catalog — the query
    twin of the r14 pre-flight refusal (VERDICT r13 #2): a mixed-CRS
    file set cannot mosaic as one grid, but it CAN mosaic per CRS
    group, and the planning (which files group together, each group's
    union extent, the target grid dims at the group's native
    resolution) is pure catalog relational algebra — zero pixel I/O.
    Four 16x16 rasters are written at query time through the
    distributed sink (two EPSG:4326 at 0.5 deg/px side by side, two
    EPSG:32633 at 1 m/px stacked), cataloged, and grouped by the crs
    column: per group file count, union bounds, and ceil'd
    cols/rows of the mosaic grid at the group's finest resolution.
    Oracle = the hand-derived golden VALUES.  This is the GDAL
    `gdalbuildvrt` per-SRS planning step as engine relational ops.

    At 100 TB: the group-by runs over the HEADER catalog (one row per
    file); the per-group mosaic jobs it plans are each
    raster_mosaic_hetero/priority instances — planning cost ∝ files,
    never pixels."""
    import os as _os

    from raster2points_spark.queries._util import SCRATCH
    from raster2points_spark.sinks.geotiff import write_geotiffs
    from raster2points_spark.sources.minitiff import minitiff_catalog

    w = h = 16
    out_dir = _os.path.join(SCRATCH, "mosaic_crs_groups")

    def _pixels(file_ids):
        ids = F.col("id")
        n = len(file_ids)
        return (
            spark.range(n * w * h)
            .select(
                (ids / (w * h)).cast("int").alias("f"),
                ((ids % (w * h)) / w).cast("int").alias("row"),
                (ids % w).cast("int").alias("col"),
            )
            .select(
                F.element_at(
                    F.array(*[F.lit(x) for x in file_ids]), F.col("f") + 1
                ).alias("file_id"),
                F.lit(1).alias("band"),
                "row",
                "col",
                (F.col("row") + F.col("col")).cast("double").alias("value"),
            )
        )

    geo = local_df(
        spark,
        [("g0", 10.0, 52.0), ("g1", 18.0, 52.0)],
        "file_id string, lon0 double, lat0 double",
    )
    m1 = write_geotiffs(
        _pixels(["g0", "g1"]), out_dir, width=w, height=h,
        pixel_scale=(0.5, 0.5), origins=geo, tile=(16, 16), crs_epsg=4326,
    )
    utm = local_df(
        spark,
        [("u0", 500000.0, 4184000.0), ("u1", 500016.0, 4184000.0)],
        "file_id string, lon0 double, lat0 double",
    )
    m2 = write_geotiffs(
        _pixels(["u0", "u1"]), out_dir, width=w, height=h,
        pixel_scale=(1.0, 1.0), origins=utm, tile=(16, 16), crs_epsg=32633,
    )
    m1.unionByName(m2).write.format("noop").mode("overwrite").save()
    paths = [_os.path.join(out_dir, f"{f}.tif") for f in ("g0", "g1", "u0", "u1")]
    cat = minitiff_catalog(spark, paths)
    res = ((F.col("x1") - F.col("x0")) / F.col("width")).alias("res")
    return (
        cat.select("crs", "x0", "y0", "x1", "y1", res)
        .groupBy("crs")
        .agg(
            F.count("*").alias("n_files"),
            F.min("x0").alias("x0"),
            F.min("y0").alias("y0"),
            F.max("x1").alias("x1"),
            F.max("y1").alias("y1"),
            F.min("res").alias("fres"),
        )
        .select(
            "crs",
            "n_files",
            "x0",
            "y0",
            "x1",
            "y1",
            F.ceil((F.col("x1") - F.col("x0")) / F.col("fres"))
            .cast("int")
            .alias("cols"),
            F.ceil((F.col("y1") - F.col("y0")) / F.col("fres"))
            .cast("int")
            .alias("rows"),
        )
    )


@register(
    "raster_tile_zonemap",
    oracle="""
    WITH px AS (
      SELECT r.r, c.c, (r.r + c.c) * 0.25 AS v
      FROM generate_series(0, 63) r(r), generate_series(0, 63) c(c)
      WHERE (r.r * 64 + c.c) % 13 <> 0
    )
    SELECT CAST(count(*) AS bigint) AS n,
           round(sum(v), 2) AS sum_v, round(min(v), 2) AS min_v
    FROM px WHERE v >= 25.0
    """,
)
def raster_tile_zonemap(spark, sf_dir):
    """[r13] Tile-level ZONE MAP pruning — parquet row-group min/max
    statistics applied to the raster tile table: a value predicate
    (v >= 25) consults per-tile max-of-valid stats FIRST (array_max
    over the packed payload — no explode, no Python) and only the
    surviving tiles are unpivoted and filtered per pixel.  On the
    synthetic 64x64 gradient (value = (row+col)/4, every 13th cell
    nodata; 16 tiles of 16x16) the zone map prunes 16 -> 3 tiles, so
    the 256x-amplifying posexplode runs on 3/16 of the data; the
    oracle regenerates the pixels arithmetically and aggregates the
    same predicate over ALL of them — a hash match proves the skip
    lost nothing.  Quarters and integer counts keep every comparison
    engine-exact.

    At 100 TB the stats relation is a PERSISTED sidecar computed once
    at ingest (exactly how parquet footers carry row-group min/max
    and how scan_raster_catalog carries per-file bounds); predicate
    queries then read stats ∝ tiles but pixels ∝ selectivity — the
    third pruning level under the catalog's file-level bbox prune
    (raster_extent_prune) and the pyramid's resolution prune
    (raster_overview_prune): extent, resolution, VALUE."""
    W, TW, ND, T = 64, 16, -9999.0, 25.0
    n_across = W // TW
    tiles = (
        spark.range(n_across * n_across)
        .select(
            F.col("id").alias("tile_id"),
            ((F.col("id") / n_across).cast("int") * TW).alias("row_off"),
            ((F.col("id") % n_across).cast("int") * TW).alias("col_off"),
        )
        .withColumn(
            "data",
            F.expr(
                f"transform(sequence(0, {TW * TW - 1}), p -> "
                f"CASE WHEN ((row_off + p div {TW}) * {W} + col_off + p % {TW}) % 13 = 0 "
                f"THEN CAST({ND} AS double) "
                f"ELSE ((row_off + p div {TW}) + (col_off + p % {TW})) * 0.25 END)"
            ),
        )
    )
    # the zone map: per-tile max of VALID values, computed on the
    # packed array (at scale: a persisted sidecar, like parquet
    # row-group stats) — tiles whose max can't satisfy the predicate
    # are never exploded
    pruned = tiles.withColumn(
        "vmax", F.array_max(F.filter("data", lambda v: v != F.lit(ND)))
    ).filter(F.col("vmax") >= T)
    px = pruned.select(
        F.posexplode("data").alias("pos", "v"),
    ).filter((F.col("v") != ND) & (F.col("v") >= T))
    return px.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("v"), 2).alias("sum_v"),
        F.round(F.min("v"), 2).alias("min_v"),
    )
