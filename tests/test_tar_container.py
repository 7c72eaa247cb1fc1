"""Tar tile container (sources/tar_reader.py) — container/tar/reader.rs
path grammar ({z}/{x}/{y}.<format>[.<compression>]) + roundtrip."""

from __future__ import annotations

import pytest

from versatiles_rs_spark.sources.tar_reader import _parse_tile_name


@pytest.mark.parametrize("name,want", [
    ("3/2/1.png", (3, 2, 1, "png", "none")),
    ("14/8000/4000.pbf", (14, 8000, 4000, "mvt", "none")),
    ("5/1/2.pbf.gz", (5, 1, 2, "mvt", "gzip")),
    ("5/1/2.jpeg", (5, 1, 2, "jpg", "none")),
    ("5/1/2.mvt.br", (5, 1, 2, "mvt", "brotli")),
    ("index.html", None),
    ("._style.css", None),               # macOS resource fork (static.tar.gz)
    ("a/b/c.png", None),                 # non-numeric coords
    ("3/2/1.unknown", None),
])
def test_parse_tile_name(name, want):
    assert _parse_tile_name(name) == want


def test_tar_roundtrip(spark, tmp_path):
    from versatiles_rs_spark.operators.convert import convert_pages_to_tiles
    from versatiles_rs_spark.queries import _docs_geo
    from versatiles_rs_spark.sources import read_container, write_container

    tiles = convert_pages_to_tiles(_docs_geo(spark, "/root/testdata/sf0.001"), 0, 4, keep_ratio=1.0)
    path = str(tmp_path / "t.tar")
    stats = write_container(tiles, path)
    src = {(r["z"], r["x"], r["y"]): (bytes(r["tile"]), r["compression"]) for r in tiles.collect()}
    assert stats["tiles"] == len(src)
    back = read_container(spark, path)
    got = {(r["z"], r["x"], r["y"]): (bytes(r["tile"]), r["compression"]) for r in back.collect()}
    assert got == src


def test_tar_gz_ingest(spark, tmp_path):
    """A .tar.gz archive decompresses to scratch and parses identically."""
    import gzip
    import shutil

    from versatiles_rs_spark.operators.convert import convert_pages_to_tiles
    from versatiles_rs_spark.queries import _docs_geo
    from versatiles_rs_spark.sources import read_container, write_container

    tiles = convert_pages_to_tiles(_docs_geo(spark, "/root/testdata/sf0.001"), 0, 3, keep_ratio=1.0)
    plain = str(tmp_path / "t.tar")
    write_container(tiles, plain)
    gzpath = str(tmp_path / "t.tar.gz")
    with open(plain, "rb") as f, gzip.open(gzpath, "wb") as out:
        shutil.copyfileobj(f, out)
    assert read_container(spark, gzpath).count() == tiles.count()


def test_reference_static_tar_skips_non_tiles(spark):
    """The reference's static.tar.gz has NO z/x/y tiles — ingest must yield
    an empty frame, not crash on index.html/._forks."""
    df = spark.sparkSession if False else None
    from versatiles_rs_spark.sources import read_container

    out = read_container(spark, "/root/reference/testdata/static.tar.gz")
    assert out.count() == 0


def test_tar_br_roundtrip_and_reference_fixture(spark, tmp_path):
    """.tar.br archives are readable since round 3 (full RFC 7932 decoder):
    a brotli-compressed tile tar round-trips equal to the plain tar, and
    the reference's static.tar.br parses (no tiles inside, like its gzip
    twin — but the decode path must not error)."""
    from versatiles_rs_spark.functions.compression import compress
    from versatiles_rs_spark.operators.convert import convert_pages_to_tiles
    from versatiles_rs_spark.queries import _docs_geo
    from versatiles_rs_spark.sources import read_container, write_container

    tiles = convert_pages_to_tiles(_docs_geo(spark, "/root/testdata/sf0.001"), 0, 3, keep_ratio=1.0)
    plain = str(tmp_path / "t.tar")
    write_container(tiles, plain)
    brpath = str(tmp_path / "t.tar.br")
    with open(plain, "rb") as f:
        open(brpath, "wb").write(compress(f.read(), "brotli"))
    assert read_container(spark, brpath).count() == tiles.count()

    assert read_container(spark, "/root/reference/testdata/static.tar.br").count() == 0


def test_tar_compressed_write_roundtrip(spark, tmp_path):
    """write_container to .tar.gz and .tar.br round-trips through
    read_container (outer codec applied after the deterministic tar)."""
    from versatiles_rs_spark.operators.convert import convert_pages_to_tiles
    from versatiles_rs_spark.queries import _docs_geo
    from versatiles_rs_spark.sources import read_container, write_container

    tiles = convert_pages_to_tiles(_docs_geo(spark, "/root/testdata/sf0.001"), 0, 2, keep_ratio=1.0)
    n = tiles.count()
    for ext in ("tar.gz", "tar.br"):
        p = str(tmp_path / f"w.{ext}")
        out = write_container(tiles, p)
        assert out["tiles"] == n
        assert read_container(spark, p).count() == n


def test_compressed_tar_scratch_shared_and_removed_at_exit(tmp_path):
    """A process decompresses a .tar.gz to one scratch .tar however often
    it reads the archive, and removes it when the interpreter exits."""
    import io
    import os
    import subprocess
    import sys
    import tarfile
    import textwrap

    archive = tmp_path / "t.tar.gz"
    with tarfile.open(archive, "w:gz") as tf:
        for name, data in (("0/0/0.pbf", b"a"), ("1/1/0.pbf", b"bc")):
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    code = textwrap.dedent(f"""
        import glob, os
        from versatiles_rs_spark.sources.tar_reader import TarReader
        for _ in range(2):
            r = TarReader({str(archive)!r})
            tiles = sorted(bytes(t) for b in r.read([r.units()]) for t in b["tile"])
            assert tiles == [b"a", b"bc"], tiles
        assert len(glob.glob(os.path.join({str(scratch)!r}, "*.tar"))) == 1
    """)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(scratch), "PYTHONPATH": repo}
    subprocess.run([sys.executable, "-c", code], env=env, check=True)
    assert not list(scratch.glob("*.tar"))
