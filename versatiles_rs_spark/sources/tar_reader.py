"""Tar tile-container ingest + export (container/tar/{reader,sink}.rs).

Entries named ``{z}/{x}/{y}.<format>[.<compression>]`` become tile rows
(tar/reader.rs:73-92 path grammar). ``TarReader`` feeds the shared
container scan (sources.scan): its read units are the tile members (name +
offset + size — tarfile reads headers, not data), listed on the driver;
executors then read their member byte ranges directly from the
(decompressed) tar. It has no point lookup: open_container refuses tars.

A ``.tar.gz``/``.tgz``/``.tar.br`` archive is decompressed once to a
scratch file in the system temporary directory first: compressed streams
don't support random access, and the reference reads tars fully on one
node too — the win here is that the tile BYTES are read by executors in
parallel afterwards. A process keeps one scratch file per archive
(path, size, mtime), since executors read it lazily on every action, and
removes them all when the interpreter exits.
"""

from __future__ import annotations

import atexit
import contextlib
import gzip
import io
import os
import shutil
import tarfile
import tempfile
import threading
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from versatiles_rs_spark.functions.compression import compress, decompress
from versatiles_rs_spark.sources.ranged_io import read_exact

_EXT_FORMAT = {
    "png": ("png", "none"), "jpg": ("jpg", "none"), "jpeg": ("jpg", "none"),
    "webp": ("webp", "none"), "avif": ("avif", "none"),
    "pbf": ("mvt", "none"), "mvt": ("mvt", "none"),
    "json": ("json", "none"), "geojson": ("geojson", "none"),
}
_EXT_COMPRESSION = {"gz": "gzip", "br": "brotli", "zst": "zstd"}
# archive suffix -> compression of the whole archive
_TAR_CODECS = {".tar": None, ".tar.gz": "gzip", ".tgz": "gzip", ".tar.br": "brotli"}
TAR_SUFFIXES = tuple(_TAR_CODECS)


def tar_codec(path: str) -> str | None:
    """Compression of a whole tar archive, from its suffix."""
    low = path.lower()
    return next((c for ext, c in _TAR_CODECS.items() if low.endswith(ext)), None)


def open_tar(path: str):
    """Binary file object over the uncompressed tar bytes of ``path``:
    gzip streams, brotli decodes in memory (the reference ships
    static.tar.br, decodable through the full RFC 7932 reader)."""
    codec = tar_codec(path)
    if codec == "gzip":
        return gzip.open(path, "rb")
    if codec is None:
        return open(path, "rb")
    with open(path, "rb") as f:
        return io.BytesIO(decompress(f.read(), codec))


def _parse_tile_name(name: str) -> tuple[int, int, int, str, str] | None:
    """{z}/{x}/{y}.<format>[.<compression>] -> (z, x, y, fmt, codec)."""
    parts = name.strip("/").split("/")
    if len(parts) != 3:
        return None
    try:
        z, x = int(parts[0]), int(parts[1])
    except ValueError:
        return None
    fname = parts[2].split(".")
    if len(fname) < 2:
        return None
    codec = "none"
    ext = fname[-1].lower()
    if ext in _EXT_COMPRESSION and len(fname) >= 3:
        codec = _EXT_COMPRESSION[ext]
        ext = fname[-2].lower()
    if ext not in _EXT_FORMAT:
        return None
    fmt, default_codec = _EXT_FORMAT[ext]
    try:
        y = int(fname[0])
    except ValueError:
        return None
    return z, x, y, fmt, (codec if codec != "none" else default_codec)


# (archive path, size, mtime) -> its decompressed scratch .tar
_SCRATCH: dict[tuple[str, int, int], str] = {}
_SCRATCH_LOCK = threading.Lock()


@atexit.register
def _remove_scratch() -> None:
    for path in _SCRATCH.values():
        with contextlib.suppress(OSError):
            os.remove(path)


def _scratch_tar(path: str) -> str:
    """The decompressed copy of the archive at ``path``, made on first use."""
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    with _SCRATCH_LOCK:
        if key not in _SCRATCH:
            fd, plain = tempfile.mkstemp(suffix=".tar")
            try:
                with os.fdopen(fd, "wb") as out, open_tar(path) as src:
                    shutil.copyfileobj(src, out)
            except BaseException:
                os.remove(plain)
                raise
            _SCRATCH[key] = plain
        return _SCRATCH[key]


class TarReader:
    """A tar / tar.gz / tar.br of z/x/y.<ext> entries for the container
    scan; a compressed archive is decompressed to a scratch .tar here."""

    def __init__(self, path: str):
        self.path = self.plain = os.path.abspath(path)
        if tar_codec(path):
            self.plain = _scratch_tar(self.path)

    def units(self) -> pd.DataFrame:
        """The scan's read units: one row per tile member, in archive order."""
        index = []
        with tarfile.open(self.plain, "r:") as tf:
            for m in tf:
                parsed = _parse_tile_name(m.name) if m.isfile() else None
                if parsed is not None:
                    index.append((*parsed, m.offset_data, m.size))
        return pd.DataFrame(index, columns=["z", "x", "y", "format", "compression", "off", "size"])

    def read(self, batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Tile rows of the members in ``batches``, one file handle for all."""
        with open(self.plain, "rb") as f:
            for b in batches:
                yield b[["z", "x", "y", "format", "compression"]].assign(
                    tile=[read_exact(f, off, size)
                          for off, size in zip(b["off"].tolist(), b["size"].tolist())],
                    n_features=0)


def write_tar(tiles: DataFrame, path: str) -> dict:
    """Tile table -> tar of z/x/y.<ext> entries (container/tar/sink.rs).
    MVT tiles get the conventional .pbf name; gzip transport keeps a .gz
    suffix so the reader round-trips the codec. A .tar.gz/.tgz/.tar.br
    path compresses the archive (gzip mtime 0 / real brotli) after the
    deterministic plain write."""
    outer = tar_codec(path)
    final_path = path
    if outer:
        fd, path = tempfile.mkstemp(suffix=".tar")
        os.close(fd)
    fmt_ext = {"mvt": "pbf"}
    n = 0
    with tarfile.open(path, "w") as tf:
        for r in tiles.select("z", "x", "y", "format", "compression", "tile").toLocalIterator():
            ext = fmt_ext.get(r["format"], r["format"])
            name = f"{int(r['z'])}/{int(r['x'])}/{int(r['y'])}.{ext}"
            if r["compression"] == "gzip":
                name += ".gz"
            blob = bytes(r["tile"])
            info = tarfile.TarInfo(name)
            info.size = len(blob)
            info.mtime = 0  # deterministic bytes
            tf.addfile(info, io.BytesIO(blob))
            n += 1
    if outer:
        with open(path, "rb") as f:
            raw = f.read()
        os.unlink(path)
        with open(final_path, "wb") as f:
            f.write(compress(raw, outer))
    return {"tiles": n}
