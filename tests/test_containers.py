"""Container formats: .versatiles and .pmtiles round-trips + stored codecs.

Byte-format parity references: container/versatiles/types/file_header.rs
(66-byte header), block_definition.rs (33-byte defs), tile_index.rs
(12-byte entries, brotli); PMTiles v3 public spec (127-byte header,
varint directories, Hilbert tile ids).
"""

from __future__ import annotations

import gzip
import struct

import pytest

from versatiles_rs_spark.functions.stored_codecs import (
    UnsupportedCompressedStream,
    brotli_compress_stored,
    brotli_decompress_stored,
    zstd_compress_stored,
    zstd_decompress_stored,
)


# ---------------------------------------------------------------------------
# stored codecs
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("data", [
    b"", b"x", b"hello world" * 100, bytes(range(256)) * 999,
])
def test_brotli_stored_roundtrip(data):
    assert brotli_decompress_stored(brotli_compress_stored(data)) == data


@pytest.mark.parametrize("data", [
    b"", b"x", b"hello world" * 100, bytes(range(256)) * 999, b"a" * 70000,
])
def test_zstd_stored_roundtrip(data):
    assert zstd_decompress_stored(zstd_compress_stored(data)) == data


def test_stored_brotli_rejects_entropy_coded():
    # a stream with WBITS != 16 (first bit 1) must raise, not misparse
    with pytest.raises(UnsupportedCompressedStream):
        brotli_decompress_stored(b"\xff\x00\x00")


def test_compression_api_brotli_zstd_now_writable():
    from versatiles_rs_spark.functions.compression import (
        available_codecs,
        compress,
        decompress,
    )

    assert set(available_codecs()) == {"none", "gzip", "brotli", "zstd"}
    for codec in ("brotli", "zstd"):
        blob = compress(b"payload" * 50, codec)
        assert decompress(blob, codec) == b"payload" * 50


def _zstd_native():
    from versatiles_rs_spark.functions import brotli_native

    if not brotli_native.HAS_ZSTD:
        pytest.skip("system libzstd not available")
    return brotli_native


def _rle_frame(n_blocks: int) -> bytes:
    """A zstd frame with no content size: ``n_blocks`` RLE blocks of 128 KiB."""
    out = bytearray(b"\x28\xb5\x2f\xfd\x00\x38")  # no FCS, 128 KiB window
    for i in range(n_blocks):
        last = int(i == n_blocks - 1)
        out += (last | (1 << 1) | ((1 << 17) << 3)).to_bytes(3, "little") + b"z"
    return bytes(out)


def test_zstd_native_corrupt_frame_fails_fast():
    import time

    native = _zstd_native()
    frame = native.zstd_compress_native(b"payload " * 4000)
    flipped = bytearray(frame)
    flipped[7] |= 0b110  # first block header (after magic, descriptor, size): reserved type
    no_size = _rle_frame(1)[:-1] + bytes(19)  # no content size, corrupt block
    for bad in (frame[: len(frame) // 2], frame[:-1], bytes(flipped), no_size, b"garbage"):
        t = time.perf_counter()
        with pytest.raises(ValueError):
            native.zstd_decompress_native(bad)
        assert time.perf_counter() - t < 0.1


def test_zstd_native_rejects_huge_declared_size(monkeypatch):
    import ctypes

    native = _zstd_native()
    # single-segment frame declaring 1 TiB in an 8-byte content size field
    frame = b"\x28\xb5\x2f\xfd\xe0" + (1 << 40).to_bytes(8, "little") + b"\x01\x00\x00"
    sizes = []
    real = ctypes.create_string_buffer
    monkeypatch.setattr(ctypes, "create_string_buffer", lambda n: sizes.append(n) or real(n))
    with pytest.raises(ValueError):
        native.zstd_decompress_native(frame)
    assert sizes == []


def test_zstd_native_grows_only_for_a_full_buffer():
    native = _zstd_native()
    # 1.25 MiB from 46 bytes: past the first buffer, so it must grow
    assert native.zstd_decompress_native(_rle_frame(10)) == b"z" * (10 << 17)
    two = native.zstd_compress_native(b"a" * 1000) + native.zstd_compress_native(b"b" * 70000)
    assert native.zstd_decompress_native(two) == b"a" * 1000 + b"b" * 70000
    with pytest.raises(ValueError):
        native.zstd_decompress_native(_rle_frame(10), max_out=1 << 20)


# ---------------------------------------------------------------------------
# .versatiles
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def pyramid(spark):
    from versatiles_rs_spark.operators.convert import convert_pages_to_tiles
    from versatiles_rs_spark.queries import _docs_geo

    return convert_pages_to_tiles(
        _docs_geo(spark, "/root/testdata/sf0.01"), 0, 6, keep_ratio=1.0
    ).cache()


def test_versatiles_roundtrip(spark, pyramid, tmp_path):
    from versatiles_rs_spark.sources import read_container
    from versatiles_rs_spark.sources.versatiles_file import VersaTilesReader, write_versatiles

    path = str(tmp_path / "rt.versatiles")
    stats = write_versatiles(pyramid, path, tilejson={"name": "rt"})
    src = {(r["z"], r["x"], r["y"]): bytes(r["tile"]) for r in pyramid.collect()}
    assert stats["tiles"] == len(src)
    head = VersaTilesReader(path).header
    assert head["format"] == "mvt" and head["compression"] == "gzip"
    assert head["zoom_min"] == 0 and head["zoom_max"] == 6
    assert head["tilejson"]["name"] == "rt"
    got = {(r["z"], r["x"], r["y"]): bytes(r["tile"]) for r in read_container(spark, path).collect()}
    assert got.keys() == src.keys()
    assert all(got[k] == src[k] for k in src)


def test_versatiles_header_magic_and_length(spark, pyramid, tmp_path):
    from versatiles_rs_spark.sources.versatiles_file import write_versatiles

    path = str(tmp_path / "hdr.versatiles")
    write_versatiles(pyramid, path)
    with open(path, "rb") as f:
        buf = f.read(66)
    assert buf[:14] == b"versatiles_v02"
    assert buf[14] == 0x20  # MVT type byte (file_header.rs:104)
    assert buf[15] == 1     # gzip
    meta_off, meta_len, blocks_off, blocks_len = struct.unpack(">4Q", buf[34:66])
    assert meta_off == 66 and blocks_len > 0


def test_versatiles_block_dedup(spark, tmp_path):
    """Identical small tiles within a block share one byte range
    (block_builder.rs:103-110)."""
    import pandas as pd

    from versatiles_rs_spark.sources import read_container
    from versatiles_rs_spark.sources.versatiles_file import write_versatiles

    blob = b"same-bytes" * 10
    pdf = pd.DataFrame(
        [(3, x, y, "png", "none", blob, 0) for x in range(4) for y in range(4)],
        columns=["z", "x", "y", "format", "compression", "tile", "n_features"],
    )
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "dedup.versatiles")
    write_versatiles(df, path)
    import os

    # 16 tiles x 100 bytes would be 1600; dedup stores one copy
    assert os.path.getsize(path) < 66 + 400 + 1000
    back = read_container(spark, path)
    assert back.count() == 16
    assert all(bytes(r["tile"]) == blob for r in back.collect())


# ---------------------------------------------------------------------------
# .pmtiles
# ---------------------------------------------------------------------------

def test_pmtiles_roundtrip(spark, pyramid, tmp_path):
    from versatiles_rs_spark.sources import read_container
    from versatiles_rs_spark.sources.pmtiles import PMTilesReader, write_pmtiles

    path = str(tmp_path / "rt.pmtiles")
    stats = write_pmtiles(pyramid, path, metadata={"name": "rt"})
    src = {(r["z"], r["x"], r["y"]): bytes(r["tile"]) for r in pyramid.collect()}
    assert stats["tiles"] == len(src)
    head = PMTilesReader(path).header
    assert head["tile_type"] == "mvt" and head["tile_compression"] == "gzip"
    assert head["internal_compression"] == "gzip" and head["clustered"]
    assert head["zoom_min"] == 0 and head["zoom_max"] == 6
    got = {(r["z"], r["x"], r["y"]): bytes(r["tile"]) for r in read_container(spark, path).collect()}
    assert got.keys() == src.keys()
    assert all(got[k] == src[k] for k in src)


def test_pmtiles_header_bytes(spark, pyramid, tmp_path):
    from versatiles_rs_spark.sources.pmtiles import write_pmtiles

    path = str(tmp_path / "hdr.pmtiles")
    write_pmtiles(pyramid, path)
    with open(path, "rb") as f:
        buf = f.read(127)
    assert buf[:7] == b"PMTiles" and buf[7] == 3
    root_off, root_len = struct.unpack_from("<2Q", buf, 8)
    assert root_off == 127 and root_len > 0
    # root directory is gzip (internal compression 2)
    with open(path, "rb") as f:
        f.seek(root_off)
        root = f.read(root_len)
    gzip.decompress(root)  # must not raise


def test_pmtiles_leaf_directories(spark, tmp_path, monkeypatch):
    """Entries overflowing the root budget spill into leaf directories
    (run_length=0 pointer entries). The budget is shrunk so the split path
    actually fires — gzip keeps even 10k entries under the real 16 KiB."""
    import pandas as pd

    from versatiles_rs_spark.sources import pmtiles as pm
    from versatiles_rs_spark.sources import read_container

    monkeypatch.setattr(pm, "_ROOT_BUDGET", 100)
    rows = [(8, x, y, "png", "none", bytes([x % 251, y % 251]) * 40, 0)
            for x in range(100) for y in range(100)]
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["z", "x", "y", "format", "compression", "tile", "n_features"]
    ))
    path = str(tmp_path / "leaves.pmtiles")
    stats = pm.write_pmtiles(df, path)
    assert stats["leaves"] > 0
    back = read_container(spark, path)
    assert back.count() == 10000
    one = back.filter("x = 42 AND y = 7").collect()
    assert len(one) == 1 and bytes(one[0]["tile"]) == bytes([42 % 251, 7 % 251]) * 40


def test_pmtiles_scan_expands_run_lengths(spark, tmp_path):
    """Runs of identical tiles at consecutive tile ids are one directory
    entry; the scan's units repeat each entry over its run exactly like
    a per-entry loop, and the scan returns every tile of the source."""
    import pandas as pd

    from versatiles_rs_spark.sources import open_container, read_container
    from versatiles_rs_spark.sources.pmtiles import write_pmtiles

    rows = [(4, x, y, "png", "none", b"sea" * 9 if (x + y) % 5 else bytes([x, y]) * 9, 0)
            for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["z", "x", "y", "format", "compression", "tile", "n_features"]))
    path = str(tmp_path / "runs.pmtiles")
    stats = write_pmtiles(df, path)
    assert stats["entries"] < stats["tiles"] == 256  # precondition: some runs

    reader = open_container(path)
    loop = [(tid + k, off, ln) for tid, off, ln, rl in reader.root for k in range(max(rl, 1))]
    units = reader.units()
    assert list(zip(units["tile_id"], units["off"], units["len"])) == loop
    got = {(r["z"], r["x"], r["y"]): bytes(r["tile"]) for r in read_container(spark, path).collect()}
    assert got == {(z, x, y): t for z, x, y, _f, _c, t, _n in rows}


def test_from_container_dispatch(spark, pyramid, tmp_path):
    """from_container in VPL reads all three binary container formats."""
    from versatiles_rs_spark.plans.vpl import build_pipeline
    from versatiles_rs_spark.sources import write_container

    n = pyramid.count()
    for ext in ("mbtiles", "pmtiles", "versatiles"):
        path = str(tmp_path / f"d.{ext}")
        write_container(pyramid, path)
        out = build_pipeline(spark, f'from_container filename="{path}" | filter level_max=3')
        assert 0 < out.count() < n
        assert out.filter("z > 3").count() == 0


def test_write_container_normalizes_mixed_compression(spark, tmp_path):
    """convert's 'optimize' mode yields per-tile codecs; container export
    must normalize to one file-wide compression (gzip for mvt)."""
    from versatiles_rs_spark.functions.compression import decompress
    from versatiles_rs_spark.operators.convert import convert_pages_to_tiles
    from versatiles_rs_spark.queries import _docs_geo
    from versatiles_rs_spark.sources import read_container, write_container

    tiles = convert_pages_to_tiles(
        _docs_geo(spark, "/root/testdata/sf0.001"), 0, 4, keep_ratio=1.0,
        compression="optimize",
    )
    assert tiles.select("compression").distinct().count() > 1  # precondition
    path = str(tmp_path / "norm.pmtiles")
    write_container(tiles, path)
    back = read_container(spark, path)
    rows = back.collect()
    assert all(r["compression"] == "gzip" for r in rows)
    # payload survives: decompressed bytes equal the source's decompressed bytes
    src = {(r["z"], r["x"], r["y"]): decompress(bytes(r["tile"]), r["compression"])
           for r in tiles.collect()}
    got = {(r["z"], r["x"], r["y"]): decompress(bytes(r["tile"]), "gzip") for r in rows}
    assert got == src


def test_versatiles_point_lookup_serve_path(spark, tmp_path):
    """lookup_tile: O(1) header -> block index -> tile index -> byte-range
    seek, equal to the scan path for every present coord, None for absent,
    and Accept-Encoding recompression via optimize_compression."""
    import gzip as _gz

    import pandas as pd

    from versatiles_rs_spark.sources import lookup_tile
    from versatiles_rs_spark.sources import read_container
    from versatiles_rs_spark.sources.versatiles_file import write_versatiles

    rows = [
        (3, x, y, "mvt", "gzip", _gz.compress(bytes([x * 9 + y]) * 30, mtime=0), 1)
        for x in range(3)
        for y in range(2)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "x", "y", "format", "compression", "tile", "n_features"])
    )
    path = str(tmp_path / "serve.versatiles")
    write_versatiles(df, path)

    scanned = {(r["z"], r["x"], r["y"]): bytes(r["tile"]) for r in read_container(spark, path).collect()}
    for (z, x, y), want in scanned.items():
        got = lookup_tile(path, z, x, y)
        assert got is not None and got[0] == want and got[1] == "gzip"
    assert lookup_tile(path, 3, 200, 200) is None
    assert lookup_tile(path, 9, 0, 0) is None
    # Accept-Encoding: client accepts only identity -> decompressed payload
    blob, codec = lookup_tile(path, 3, 1, 1, accepted=["none"])
    assert codec == "none" and blob == _gz.decompress(scanned[(3, 1, 1)])


def test_pmtiles_point_lookup_serve_path(spark, tmp_path):
    """PMTiles lookup_tile: root-directory binary search (+ leaf hop) per
    coordinate, equal to the scan path, None for absent tiles."""
    import gzip as _gz

    import pandas as pd

    from versatiles_rs_spark.sources import lookup_tile
    from versatiles_rs_spark.sources import read_container
    from versatiles_rs_spark.sources.pmtiles import write_pmtiles

    rows = [
        (2, x, y, "mvt", "gzip", _gz.compress(bytes([x * 5 + y + 1]) * 25, mtime=0), 1)
        for x in range(4)
        for y in range(4)
        if (x + y) % 3 != 0  # leave holes so absent coords exist in-range
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "x", "y", "format", "compression", "tile", "n_features"])
    )
    path = str(tmp_path / "serve.pmtiles")
    write_pmtiles(df, path)

    scanned = {(r["z"], r["x"], r["y"]): bytes(r["tile"]) for r in read_container(spark, path).collect()}
    assert len(scanned) == len(rows)
    for (z, x, y), want in scanned.items():
        got = lookup_tile(path, z, x, y)
        assert got is not None and got[0] == want, (z, x, y)
    for x in range(4):
        for y in range(4):
            if (x + y) % 3 == 0:
                assert lookup_tile(path, 2, x, y) is None, (x, y)
    assert lookup_tile(path, 7, 1, 1) is None


def test_lookup_dispatch_all_three_containers(spark, tmp_path):
    import gzip as _gz

    import pandas as pd

    from versatiles_rs_spark.sources import lookup_tile, write_container

    rows = [
        (1, x, y, "mvt", "gzip", _gz.compress(bytes([x * 2 + y + 1]) * 20, mtime=0), 1)
        for x in range(2) for y in range(2)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "x", "y", "format", "compression", "tile", "n_features"])
    )
    want = {(z, x, y): t for z, x, y, _f, _c, t, _n in rows}
    for ext in ("mbtiles", "pmtiles", "versatiles"):
        path = str(tmp_path / f"d.{ext}")
        write_container(df, path)
        for (z, x, y), blob in want.items():
            got = lookup_tile(path, z, x, y)
            assert got is not None and got[0] == blob, (ext, z, x, y)
        assert lookup_tile(path, 1, 3, 3) is None  # out-of-grid -> absent
