"""Sources & sinks: deterministic synthetic tables (pages per BASELINE.json's
input_hint, features per the reference's data model), format codecs
(GeoJSON / GeoJSON-seq / geo-CSV / Spaten fixture reader), and the tile sink.

The feature table (SURVEY.md §1.3) is declared here, once: ``feature_id,
layer, geom_type, wkb, minx/miny/maxx/maxy, zoom_min, zoom_max, props``.
The cell joins and the tiler read it; ``synth.features`` and
``pbf.features_from_pbf`` produce it whole. The GeoJSON/Spaten readers
(``SOURCE_SCHEMA``), way and relation assembly and the ``lines`` mapping op
produce subsets composed from ``GEOM_FIELDS``, whose values every producer
but the Spaten reader (which keeps the file's WKB and bbox) builds with
``kernels.wkb.geom_columns``.
"""

from pyspark.sql import types as T

from ..kernels.wkb import GEOM_COLUMNS

GEOM_FIELDS = tuple(
    T.StructField(name, typ, False)
    for name, typ in zip(GEOM_COLUMNS, [T.IntegerType(), T.BinaryType()] + [T.DoubleType()] * 4)
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("layer", T.StringType(), False),
        *GEOM_FIELDS,
        T.StructField("zoom_min", T.IntegerType(), True),
        T.StructField("zoom_max", T.IntegerType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

# what the format readers emit: the feature table without its id and zoom
# columns, and a layer taken from the ``@layer`` prop, which a file may omit
SOURCE_SCHEMA = T.StructType(
    [T.StructField("layer", T.StringType(), True), *GEOM_FIELDS, FEATURE_SCHEMA["props"]]
)
