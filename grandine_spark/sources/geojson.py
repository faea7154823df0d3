"""GeoJSON / GeoJSON-seq / geo-CSV sources → the feature table schema.

Ingest semantics match the reference:
- Multi* geometries are SPLIT into single-geometry features
  (lib/geojson/codec.go:98-127) — the engine has only 3 geometry types;
- polygon rings drop the duplicate closing point and get winding fixed
  (lib/spatial/geom.go:115-150, Polygon.FixWinding);
- GeoJSON-seq is RS (0x1E) delimited (lib/geojsonseq/codec.go:21-68);
- geo-CSV has header-row property keys + configurable lat/lon columns
  (lib/csv/codec.go:55-142, Geonames-style).

GeoJSON parsing runs DISTRIBUTED: one task per file (wholetext) for .geojson,
one task per line-batch for .geojsonseq; CSV is Spark-native.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.geometry import fix_winding
from ..kernels.wkb import geom_record, open_ring
from . import SOURCE_SCHEMA


def _xy(cc) -> np.ndarray:
    """Coordinate list → (n, 2) float array, dropping any altitude.

    GeoJSON legally carries [lon, lat, alt] triples; passing them through
    would make to_wkb write 3 doubles per point under a 2-D point count
    and every later from_wkb read silently mis-parse the geometry. An
    empty list is a (0, 2) array: an empty ring or line."""
    a = np.asarray(cc, float)
    return a[:, :2] if len(a) else np.zeros((0, 2))


def _ring(cc) -> np.ndarray:
    """A GeoJSON ring → an in-memory ring: closing point dropped, then
    altitude."""
    return _xy(open_ring(np.asarray(cc, float)))


def feature_rows_from_geojson(obj: dict) -> list[dict]:
    """FeatureCollection/Feature dict → engine feature rows (Multi* split,
    rings trimmed + winding-fixed)."""
    feats = obj["features"] if obj.get("type") == "FeatureCollection" else [obj]
    rows = []
    for ft in feats:
        geom = ft.get("geometry") or {}
        props = {
            str(k): str(v) for k, v in (ft.get("properties") or {}).items()
        }
        gt = geom.get("type")
        cc = geom.get("coordinates")
        singles: list[tuple[int, object]] = []
        if gt == "Point":
            singles.append((1, (float(cc[0]), float(cc[1]))))
        elif gt == "MultiPoint":
            singles += [(1, (float(p[0]), float(p[1]))) for p in cc]
        elif gt == "LineString":
            singles.append((2, _xy(cc)))
        elif gt == "MultiLineString":
            singles += [(2, _xy(ln)) for ln in cc]
        elif gt == "Polygon":
            singles.append((3, fix_winding([_ring(r) for r in cc])))
        elif gt == "MultiPolygon":
            for poly in cc:
                singles.append((3, fix_winding([_ring(r) for r in poly])))
        else:
            continue
        for gtype, coords in singles:
            if len(coords) == 0:
                continue  # a pointless line or ringless polygon has no WKB form
            rows.append(
                {"layer": props.get("@layer"), **geom_record(gtype, coords), "props": props}
            )
    return rows


def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """One task per file: spark.read.text(wholetext) → parse in executors."""
    raw = spark.read.text(path, wholetext=True)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for txt in pdf["value"]:
                rows.extend(feature_rows_from_geojson(json.loads(txt)))
            yield pd.DataFrame(rows, columns=[f.name for f in SOURCE_SCHEMA.fields])

    return raw.mapInPandas(parse, SOURCE_SCHEMA)


def read_geojsonseq(spark: SparkSession, path: str) -> DataFrame:
    """RS-delimited streaming GeoJSON: native lineSep split, distributed
    per-record parse."""
    raw = spark.read.text(path, lineSep="\x1e")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for txt in pdf["value"]:
                txt = txt.strip()
                if not txt:
                    continue
                rows.extend(feature_rows_from_geojson(json.loads(txt)))
            yield pd.DataFrame(rows, columns=[f.name for f in SOURCE_SCHEMA.fields])

    return raw.mapInPandas(parse, SOURCE_SCHEMA)


def read_geocsv(
    spark: SparkSession,
    path: str,
    lat_col: int = 4,
    lon_col: int = 5,
    delimiter: str = "\t",
) -> DataFrame:
    """Geonames-style CSV → Point features; header row = property keys
    (lib/csv/codec.go:55-142). Fully Spark-native scan."""
    df = spark.read.csv(path, header=True, sep=delimiter, inferSchema=False)
    cols = df.columns
    # try_cast, not cast: under Spark 4's default ANSI mode a malformed
    # numeric cell would throw CAST_INVALID_INPUT and kill the scan — the
    # isNotNull filter below is the intended skip path
    lat = F.col(cols[lat_col]).try_cast("double")
    lon = F.col(cols[lon_col]).try_cast("double")
    props = F.map_from_arrays(
        F.array(*[F.lit(c) for c in cols]),
        F.array(*[F.col(c).cast("string") for c in cols]),
    )
    return df.select(
        lon.alias("lon"), lat.alias("lat"), props.alias("props")
    ).filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
