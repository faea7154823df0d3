"""The converter pipeline (cmd/converter, SURVEY.md §3.3): N inputs →
codec-guess by extension → optional tag mapping (filter+transform) →
one output. In Spark: read → unionByName → apply_mapping → write.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.mapping import MappingRule, apply_mapping
from ..kernels.wkb import from_wkb
from . import spaten as spaten_codec
from .geojson import read_geocsv, read_geojson, read_geojsonseq


def read_any(spark: SparkSession, path: str) -> DataFrame:
    """guessCodec by extension (cmd/converter/converter.go:220-230)."""
    ext = os.path.splitext(path)[1].lower()
    if ext in (".geojson", ".json"):
        return read_geojson(spark, path)
    if ext == ".geojsonseq":
        return read_geojsonseq(spark, path)
    if ext == ".csv":
        return read_geocsv(spark, path)
    if ext == ".spaten":
        return read_spaten(spark, path)
    if ext == ".parquet":
        return spark.read.parquet(path)
    raise ValueError(f"file type of {path} is not supported")


def read_spaten(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Spaten scan: one task per file, blocks decoded executor-
    side inside the Arrow batch (same file-level parallelism as the WARC
    reader). The old form read+decoded the whole file on the driver and
    shipped a Python feature list to Spark as one frame — a driver OOM
    at exactly the scale the write side was built to avoid."""
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.wkb import geom_bbox
    from . import SOURCE_SCHEMA

    files = spark.read.format("binaryFile").load(path)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for ft in spaten_codec.read_features(bytes(blob)):
                    bb = ft.get("bbox")
                    if bb is None:
                        bb = geom_bbox(*from_wkb(ft["wkb"]))
                    rows.append(
                        (
                            ft["props"].get("@layer"),
                            int(ft["geom_type"]),
                            bytes(ft["wkb"]),
                            *[float(x) for x in bb],
                            {str(k): str(v) for k, v in ft["props"].items()},
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in SOURCE_SCHEMA.fields])

    return files.select("content").mapInPandas(run, SOURCE_SCHEMA)


def convert(
    spark: SparkSession,
    in_paths: list[str],
    out_path: str,
    rules: list[MappingRule] | None = None,
) -> int:
    """Multi-input concat + mapping + single-output write. Returns feature
    count. Output codec by extension: .parquet (engine-native); .geojsonseq /
    .geojson / .spaten are single-file formats, so they encode DISTRIBUTED
    (mapInPandas / write.text on executors) and the driver only streams
    finished text lines or spaten block bytes into the output file — bounded
    memory, never a collect of the feature set (the reference's converter is
    single-process, cmd/converter/converter.go:201-218; this is its
    cluster-safe equivalent)."""
    dfs = [read_any(spark, p) for p in in_paths]
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d, allowMissingColumns=True)
    if rules:
        df = apply_mapping(df, rules)

    ext = os.path.splitext(out_path)[1].lower()
    if ext == ".parquet":
        df.write.mode("overwrite").parquet(out_path)
        return spark.read.parquet(out_path).count()
    if ext == ".geojsonseq":
        # RS-prefixed lines, encoded executor-side; the single output file is
        # assembled by a bounded-buffer concat of the distributed part files.
        out = features_to_geojson(df).select(
            F.concat(F.lit("\x1e"), F.col("geojson")).alias("value")
        )
        return _concat_text_parts(out, out_path)
    if ext == ".geojson":
        return _concat_text_parts(
            features_to_geojson(df),
            out_path,
            prelude='{"type": "FeatureCollection", "features": [',
            sep=",",
            postlude="]}",
            strip_newline=True,
        )
    if ext == ".spaten":
        blocks = _encode_spaten_blocks(df)
        n = 0
        with open(out_path, "wb") as f:
            f.write(spaten_codec.file_header())
            # toLocalIterator: one partition of finished block BYTES on the
            # driver at a time — never the decoded feature set.
            for r in blocks.toLocalIterator():
                f.write(bytes(r.block))
                n += int(r.n)
            if n == 0:  # bulk-encoder parity: an empty file still carries a
                f.write(spaten_codec.encode_block([], _SPATEN_META))  # meta block
        return n
    raise ValueError(f"output type {ext} not supported")


_SPATEN_META = {"@srid": "4326"}


def _concat_text_parts(
    df: DataFrame,
    out_path: str,
    prelude: str = "",
    sep: str = "",
    postlude: str = "",
    strip_newline: bool = False,
) -> int:
    """Distributed text encode → single file: executors write part files via
    ``df.write.text``, the driver streams them line-by-line into ``out_path``
    (memory bounded by one line). Returns the line count."""
    import shutil

    tmp = out_path + "._parts"
    df.write.mode("overwrite").text(tmp)
    n = 0
    try:
        with open(out_path, "w") as f:
            f.write(prelude)
            for name in sorted(os.listdir(tmp)):
                if not name.startswith("part-"):
                    continue
                with open(os.path.join(tmp, name)) as pf:
                    for line in pf:
                        if n and sep:
                            f.write(sep)
                        f.write(line.rstrip("\n") if strip_newline else line)
                        n += 1
            f.write(postlude)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return n


def _encode_spaten_blocks(df: DataFrame) -> DataFrame:
    """Executor-side Spaten block encode: each Arrow batch becomes blocks of
    ≤ BLOCK_SIZE features (the reference's chunked writer unit,
    fileformat/spaten/lowlevel.go block framing). Block boundaries follow the
    input partitioning, which any conformant reader accepts."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                {
                    "geom_type": int(r.geom_type),
                    "wkb": bytes(r.wkb),
                    "bbox": (r.minx, r.miny, r.maxx, r.maxy),
                    "props": dict(r.props or {}),
                }
                for r in pdf.itertuples()
            ]
            for off in range(0, len(feats), spaten_codec.BLOCK_SIZE):
                chunk = feats[off : off + spaten_codec.BLOCK_SIZE]
                yield pd.DataFrame(
                    {
                        "block": [spaten_codec.encode_block(chunk, _SPATEN_META)],
                        "n": [len(chunk)],
                    }
                )

    return df.mapInPandas(
        run,
        T.StructType(
            [
                T.StructField("block", T.BinaryType()),
                T.StructField("n", T.LongType()),
            ]
        ),
    )


def inspect_features(df: DataFrame, n: int = 20) -> str:
    """Pretty-print features like grandine-inspect (cmd/inspect/inspect.go:
    40-97): geometry type, coordinate preview, properties."""
    names = {1: "Point", 2: "LineString", 3: "Polygon"}
    lines = []
    for r in df.limit(n).collect():
        gt, coords = from_wkb(bytes(r.wkb))
        if gt == 1:
            preview = f"({coords[0]:.6f}, {coords[1]:.6f})"
        elif gt == 2 and len(coords):
            preview = f"{len(coords)} pts, start ({coords[0][0]:.6f}, {coords[0][1]:.6f})"
        elif gt == 2:
            preview = "0 pts"
        else:
            preview = f"{len(coords)} rings, {sum(len(x) for x in coords)} pts"
        props = dict(r.props or {})
        lines.append(f"{names.get(gt, '?'):12s} {preview}  {props}")
    return "\n".join(lines)


def features_to_geojson(df: DataFrame) -> DataFrame:
    """Feature rows → GeoJSON strings (S5 encode: rings re-closed, polygons
    re-wound at encode, lib/geojson/codec.go:32-45 + geom.go:152-195)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from ..kernels.geometry import fix_winding

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                gt, coords = from_wkb(bytes(r["wkb"]))
                if gt == 1:
                    geom = {"type": "Point", "coordinates": list(coords)}
                elif gt == 2:
                    geom = {"type": "LineString", "coordinates": np.asarray(coords).tolist()}
                else:
                    rings = fix_winding(coords)
                    cc = []
                    for ring in rings:
                        pts = np.asarray(ring).tolist()
                        pts.append(pts[0])  # re-close ring on encode
                        cc.append(pts)
                    geom = {"type": "Polygon", "coordinates": cc}
                props = dict(r["props"] or {})
                out.append(
                    json.dumps(
                        {"type": "Feature", "geometry": geom, "properties": props},
                        sort_keys=True,
                    )
                )
            yield pd.DataFrame({"geojson": out})

    return df.mapInPandas(run, T.StructType([T.StructField("geojson", T.StringType())]))
