"""Deterministic synthetic input tables — no external data.

``pages``: Common-Crawl-style web pages, exactly the input_hint shape
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
Generated DISTRIBUTED: every column is a pure function of the row id
(``spark.range`` + JVM expressions), so the generator itself scales to any
row count, is independent of partitioning, and needs no driver-side data.
~80% of pages embed a geotag ``coords: {lat:.6f}, {lon:.6f}`` in ``text``
(FIXTURES.md §1); point distribution is a mixture of uniform-world and dense
Gaussian city clusters (hot-cell skew driver, mirroring the reference's
shuffle-for-skew motivation, cmd/tiler/shuffle.go:11-15). Domains are
zipf-ish (popular-domain skew).

``features``: rows of the feature table (``FEATURE_SCHEMA``, declared in
``sources/__init__.py``) — admin polygons around the same city centers,
road linestrings (stitchable chains), POI points. Driver-side numpy
(seed 42): it is the SMALL dimension side of the spatial join (broadcast).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.wkb import geom_columns
from ..session import local_frame
from . import FEATURE_SCHEMA

N_CITIES = 20
LANGS = ["en", "de", "fr", "es", "pt"]

# deterministic "city" centers: spread over mid latitudes, fixed seed
_rng = np.random.default_rng(42)
CITY_LON = (_rng.random(N_CITIES) * 340.0 - 170.0).round(4)
CITY_LAT = (_rng.random(N_CITIES) * 120.0 - 60.0).round(4)


_LCG_M = 1 << 31


def _u(col, salt: int):
    """Uniform [0,1) as a pure function of a bigint column — two LCG rounds
    mod 2^31 in JVM expressions (deterministic, partition-invariant, and
    overflow-safe under ANSI mode: intermediates stay < 2^62)."""
    x = F.pmod(col * F.lit(1103515245) + F.lit(12345 + salt * 97), F.lit(_LCG_M))
    x = F.pmod(x * F.lit(1103515245) + F.lit(12345), F.lit(_LCG_M))
    x = F.pmod(x * F.lit(1103515245) + F.lit(12345), F.lit(_LCG_M))
    return x.cast("double") / F.lit(float(_LCG_M))


def pages(spark: SparkSession, n: int = 100_000, partitions: int | None = None) -> DataFrame:
    """Generate the pages table with ``n`` rows, fully JVM-side."""
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    df = spark.range(0, n, 1, partitions)

    u_dom = _u(F.col("id"), 1)
    u_path = _u(F.col("id"), 2)
    u_mix = _u(F.col("id"), 3)
    u_city = _u(F.col("id"), 4)
    u_lon = _u(F.col("id"), 5)
    u_lat = _u(F.col("id"), 6)
    g1 = _u(F.col("id"), 7)
    g2 = _u(F.col("id"), 8)
    u_geo = _u(F.col("id"), 9)
    u_lang = _u(F.col("id"), 10)
    u_ts = _u(F.col("id"), 11)

    # zipf-ish domain skew: domain rank ~ floor(u^3 * 1000)
    domain = F.concat(
        F.lit("www.site"),
        F.floor(F.pow(u_dom, F.lit(3.0)) * F.lit(1000.0)).cast("string"),
        F.lit(".example"),
    )
    url = F.concat(
        F.lit("https://"),
        domain,
        F.lit("/p/"),
        F.conv(F.col("id").cast("string"), 10, 16),
    )

    # 55% clustered around cities (gaussian, box-muller), 45% uniform world
    city = F.floor(F.pow(u_city, F.lit(2.0)) * F.lit(float(N_CITIES))).cast("int")
    city_lon = F.element_at(
        F.array(*[F.lit(float(v)) for v in CITY_LON]), city + 1
    )
    city_lat = F.element_at(
        F.array(*[F.lit(float(v)) for v in CITY_LAT]), city + 1
    )
    r = F.sqrt(F.lit(-2.0) * F.log(g1 + F.lit(1e-12)))
    theta = F.lit(2.0 * np.pi) * g2
    lon_c = city_lon + r * F.cos(theta) * F.lit(0.35)
    lat_c = city_lat + r * F.sin(theta) * F.lit(0.25)
    lon_u = u_lon * F.lit(360.0) - F.lit(180.0)
    lat_u = u_lat * F.lit(170.0) - F.lit(85.0)
    lon = F.when(u_mix < 0.55, lon_c).otherwise(lon_u)
    lat = F.when(u_mix < 0.55, lat_c).otherwise(lat_u)
    # keep inside the mercator-legal band
    lon = F.greatest(F.least(lon, F.lit(179.9999)), F.lit(-179.9999))
    lat = F.greatest(F.least(lat, F.lit(84.9)), F.lit(-84.9))

    geotag = F.format_string("coords: %.6f, %.6f", lat, lon)
    has_geo = u_geo < 0.8
    lang = F.element_at(
        F.array(*[F.lit(v) for v in LANGS]),
        (F.floor(u_lang * F.lit(float(len(LANGS)))) + 1).cast("int"),
    )
    body = F.concat(
        F.lit("lorem ipsum dolor sit amet page "),
        F.col("id").cast("string"),
        F.lit(" the quick brown fox jumps over the lazy dog "),
    )
    text = F.when(has_geo, F.concat(body, geotag)).otherwise(body)
    html = F.concat(
        F.lit("<html><body><p>"), text, F.lit("</p></body></html>")
    ).cast("binary")
    warc_ts = F.timestamp_seconds(
        F.lit(1704067200) + F.floor(u_ts * F.lit(31536000.0))  # 2024
    )

    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


# --------------------------------------------------------------------------
# features (driver-side numpy, small dimension table)
# --------------------------------------------------------------------------

def _feature_rows(n_polygons: int = 200, n_roads: int = 100, n_pois: int = 200):
    rng = np.random.default_rng(42)
    rows = []
    fid = 0

    # admin polygons: irregular convex rings around city centers; 5% holed
    for i in range(n_polygons):
        c = i % N_CITIES
        cx = float(CITY_LON[c] + rng.normal(0, 0.8))
        cy = float(CITY_LAT[c] + rng.normal(0, 0.6))
        k = int(rng.integers(4, 9))
        ang = np.sort(rng.random(k)) * 2 * np.pi
        rad = 0.2 + rng.random(k) * 0.9
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        ring = np.round(ring, 6)
        rings = [ring]
        if i % 20 == 0:  # hole
            hole = np.round(
                np.column_stack(
                    [cx + 0.08 * np.cos(ang[:4]), cy + 0.08 * np.sin(ang[:4])]
                ),
                6,
            )
            rings.append(hole)
        props = {"@layer": "admin", "class": f"admin{i % 4}", "name": f"poly{i}"}
        rows.append((fid, "admin", *geom_columns(3, rings), 0, 99, props))
        fid += 1

    # roads: chains of linestrings sharing endpoints with equal props
    for i in range(n_roads):
        c = i % N_CITIES
        x0 = float(CITY_LON[c] + rng.normal(0, 0.5))
        y0 = float(CITY_LAT[c] + rng.normal(0, 0.5))
        pts = [np.array([x0, y0])]
        for _ in range(int(rng.integers(3, 7))):
            pts.append(pts[-1] + rng.normal(0, 0.15, 2))
        line = np.round(np.array(pts), 6)
        props = {
            "@layer": "transportation",
            "class": ["primary", "secondary"][i % 2],
            "road_group": str(i // 3),  # 3 consecutive roads share props → stitch
        }
        rows.append((fid, "transportation", *geom_columns(2, line), 5, 99, props))
        fid += 1

    # POI points, buildings-like zoom gating on a subset
    for i in range(n_pois):
        c = i % N_CITIES
        x = float(CITY_LON[c] + rng.normal(0, 0.4))
        y = float(CITY_LAT[c] + rng.normal(0, 0.3))
        x, y = round(x, 6), round(y, 6)
        props = {"@layer": "poi", "class": f"poi{i % 5}"}
        zmin = 14 if i % 3 == 0 else 0  # @zoom:min: 14 pattern (FIXTURES.md)
        if zmin:
            props["@zoom:min"] = "14"
        rows.append((fid, "poi", *geom_columns(1, (x, y)), zmin, 99, props))
        fid += 1

    return rows


def features(spark: SparkSession, **kw) -> DataFrame:
    return local_frame(spark, _feature_rows(**kw), FEATURE_SCHEMA)
