"""versatiles_rs_spark — a from-scratch PySpark-native tiling + spatial-join engine.

Re-expresses the capabilities of versatiles-org/versatiles-rs (reference at
/root/reference, Rust) as idiomatic PySpark: tiles and pages are DataFrame
rows, per-tile compute runs in Arrow-vectorized pandas UDFs, and the
reference's pull-based async stream machinery is replaced by Catalyst +
Tungsten + AQE.

Layout
------
- ``tile_math``  : pure tile-coordinate algebra (Web Mercator pyramid,
  Hilbert/z-order keys, bboxes/pyramids) — both numpy and Spark Column forms.
- ``pages``      : deterministic synthetic Common-Crawl-style pages table +
  byte-identical text extraction (BASELINE.json input_hint).
- ``functions``  : scalar function layer (geo SQL columns, compression,
  MVT codec, text analysis).
- ``operators``  : the VPL operator inventory (SURVEY.md §2) as
  DataFrame -> DataFrame transforms.
- ``spatial``    : broadcast ray-casting point-in-polygon join, cell cover,
  kNN via cell-ring expansion.
- ``dedup``/``ann`` : training-data-pipeline extensions (MinHash-LSH,
  SimHash, embedding ANN).
- ``plans``      : VPL-equivalent pipeline planner (tiny registry/parser).
- ``streaming``  : Structured Streaming variants of the batch operators.
"""

__version__ = "0.1.0"

# Spark's Python workers run importlib.invalidate_caches() before every
# task; keep it from re-reading the unchanged pyspark.zip each time.
from versatiles_rs_spark import zipimport_cache as _zipimport_cache  # noqa: E402

_zipimport_cache.install()
