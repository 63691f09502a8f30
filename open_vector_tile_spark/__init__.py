"""open_vector_tile_spark — a PySpark-native spatial-join + tiling engine.

Brand-new engine (not a port) with the data-processing capabilities of the
Open-S2/open-vector-tile reference library (tile codec, extent quantization,
shape-typed properties, grid/image layers) wrapped in a Spark-first pipeline:
geoparse -> cell index -> two-phase spatial join -> kNN -> gridding ->
per-tile OVT encode, plus web-scale text ops (dedup, similarity, quality).
"""

__version__ = "0.1.0"

from ._spark_archives import freeze_spark_archives

freeze_spark_archives()
