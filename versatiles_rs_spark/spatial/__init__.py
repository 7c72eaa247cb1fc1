from versatiles_rs_spark.spatial.pip import (  # noqa: F401
    Polygon,
    band_index,
    classify_tiles,
    pip_contains_np,
    pip_join,
)
from versatiles_rs_spark.spatial.polygons import sample_polygons  # noqa: F401
