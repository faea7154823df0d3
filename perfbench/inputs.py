"""Seeded input tables for the pipeline benchmark.

Mirrors the shapes of ``grandine_spark.sources.synth`` but draws every
random choice from one ``numpy`` generator seeded by ``--seed``:

- pages: ~80 % carry a ``coords: lat, lon`` geotag in ``text``; 55 % of the
  points fall in Gaussian clusters around the city centres (hot cells), the
  rest are uniform over the Mercator band; domains are zipf-ish
  (rank = floor(u^3 * 1000)).
- features: admin polygons (every 20th holed) around the same city centres,
  chains of road linestrings, POI points (every third gated to z>=14).

City centres, page clusters and polygons come from the same seed, so the
spatial join always hits. The tables are written as parquet; the engine only
ever reads those files.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CITIES = 20
LANGS = np.array(["en", "de", "fr", "es", "pt"])
PAGE_FILES = 8

FEATURE_SCHEMA = pa.schema(
    [
        ("feature_id", pa.int64()),
        ("layer", pa.string()),
        ("geom_type", pa.int32()),
        ("wkb", pa.binary()),
        ("minx", pa.float64()),
        ("miny", pa.float64()),
        ("maxx", pa.float64()),
        ("maxy", pa.float64()),
        ("zoom_min", pa.int32()),
        ("zoom_max", pa.int32()),
        ("props", pa.map_(pa.string(), pa.string())),
    ]
)


@dataclass(frozen=True)
class Shape:
    pages: int
    polygons: int
    roads: int
    pois: int


@dataclass(frozen=True)
class Inputs:
    pages_path: str
    features_path: str
    input_bytes: int
    geotagged: int  # pages whose text carries a geotag


def _wkb(geom_type: int, coords) -> bytes:
    out = [struct.pack("<BI", 1, geom_type)]
    if geom_type == 1:
        out.append(struct.pack("<dd", *coords))
    elif geom_type == 2:
        out.append(struct.pack("<I", len(coords)) + np.asarray(coords, "<f8").tobytes())
    else:
        out.append(struct.pack("<I", len(coords)))
        for ring in coords:
            closed = np.concatenate([ring, ring[:1]])
            out.append(struct.pack("<I", len(closed)) + closed.astype("<f8").tobytes())
    return b"".join(out)


def _bbox(pts: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(pts[:, 0].min()), float(pts[:, 1].min()),
        float(pts[:, 0].max()), float(pts[:, 1].max()),
    )


def _pages(rng: np.random.Generator, n: int, city_lon, city_lat) -> tuple[pa.Table, int]:
    city = np.floor(rng.random(n) ** 2 * N_CITIES).astype(np.int64)
    clustered = rng.random(n) < 0.55
    lon = np.where(
        clustered, city_lon[city] + rng.normal(0, 0.35, n), rng.random(n) * 360.0 - 180.0
    )
    lat = np.where(
        clustered, city_lat[city] + rng.normal(0, 0.25, n), rng.random(n) * 170.0 - 85.0
    )
    lon = np.clip(lon, -179.9999, 179.9999)
    lat = np.clip(lat, -84.9, 84.9)
    has_geo = rng.random(n) < 0.8
    domain = np.floor(rng.random(n) ** 3 * 1000.0).astype(np.int64)
    lang = LANGS[rng.integers(0, len(LANGS), n)]
    ts = 1704067200 + rng.integers(0, 31536000, n)

    url, text = [], []
    for i in range(n):
        url.append(f"https://www.site{domain[i]}.example/p/{i:x}")
        body = f"lorem ipsum dolor sit amet page {i} the quick brown fox jumps over the lazy dog "
        if has_geo[i]:
            body += f"coords: {lat[i]:.6f}, {lon[i]:.6f}"
        text.append(body)
    html = [f"<html><body><p>{t}</p></body></html>".encode() for t in text]
    table = pa.table(
        {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
        }
    )
    return table, int(has_geo.sum())


def _features(rng: np.random.Generator, shape: Shape, city_lon, city_lat) -> pa.Table:
    rows = []
    for i in range(shape.polygons):
        c = i % N_CITIES
        cx = city_lon[c] + rng.normal(0, 0.8)
        cy = city_lat[c] + rng.normal(0, 0.6)
        k = int(rng.integers(4, 9))
        ang = np.sort(rng.random(k)) * 2 * np.pi
        rad = 0.2 + rng.random(k) * 0.9
        ring = np.round(np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)]), 6)
        rings = [ring]
        if i % 20 == 0:
            rings.append(np.round(
                np.column_stack([cx + 0.08 * np.cos(ang[:4]), cy + 0.08 * np.sin(ang[:4])]), 6
            ))
        props = {"@layer": "admin", "class": f"admin{i % 4}", "name": f"poly{i}"}
        rows.append(("admin", 3, _wkb(3, rings), _bbox(ring), 0, 99, props))

    for i in range(shape.roads):
        c = i % N_CITIES
        pts = [np.array([city_lon[c] + rng.normal(0, 0.5), city_lat[c] + rng.normal(0, 0.5)])]
        for _ in range(int(rng.integers(3, 7))):
            pts.append(pts[-1] + rng.normal(0, 0.15, 2))
        line = np.round(np.array(pts), 6)
        props = {
            "@layer": "transportation",
            "class": ["primary", "secondary"][i % 2],
            "road_group": str(i // 3),  # 3 consecutive roads share props
        }
        rows.append(("transportation", 2, _wkb(2, line), _bbox(line), 5, 99, props))

    for i in range(shape.pois):
        c = i % N_CITIES
        x = round(float(city_lon[c] + rng.normal(0, 0.4)), 6)
        y = round(float(city_lat[c] + rng.normal(0, 0.3)), 6)
        props = {"@layer": "poi", "class": f"poi{i % 5}"}
        zmin = 14 if i % 3 == 0 else 0
        if zmin:
            props["@zoom:min"] = "14"
        rows.append(("poi", 1, _wkb(1, (x, y)), (x, y, x, y), zmin, 99, props))

    cols = list(zip(*rows))
    bbox = np.array(cols[3], dtype=np.float64)
    return pa.table(
        [
            pa.array(np.arange(len(rows)), pa.int64()),
            pa.array(cols[0], pa.string()),
            pa.array(cols[1], pa.int32()),
            pa.array(cols[2], pa.binary()),
            *[pa.array(bbox[:, j]) for j in range(4)],
            pa.array(cols[4], pa.int32()),
            pa.array(cols[5], pa.int32()),
            pa.array([list(p.items()) for p in cols[6]], FEATURE_SCHEMA.field("props").type),
        ],
        schema=FEATURE_SCHEMA,
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def generate(seed: int, shape: Shape, out_dir: str) -> Inputs:
    """Write ``pages`` and ``features`` parquet under ``out_dir`` for ``seed``."""
    rng = np.random.default_rng(seed)
    city_lon = (rng.random(N_CITIES) * 340.0 - 170.0).round(4)
    # +-30 deg, not synth's +-60: the Mercator scale, and with it the tile
    # count, then varies by ~1 % between seeds instead of ~7 %
    city_lat = (rng.random(N_CITIES) * 60.0 - 30.0).round(4)
    pages, geotagged = _pages(rng, shape.pages, city_lon, city_lat)
    features = _features(rng, shape, city_lon, city_lat)

    pages_path = os.path.join(out_dir, "pages")
    features_path = os.path.join(out_dir, "features")
    os.makedirs(pages_path)
    os.makedirs(features_path)
    step = -(-pages.num_rows // PAGE_FILES)
    for k in range(PAGE_FILES):
        pq.write_table(pages.slice(k * step, step), os.path.join(pages_path, f"part-{k}.parquet"))
    pq.write_table(features, os.path.join(features_path, "part-0.parquet"))
    return Inputs(
        pages_path=pages_path,
        features_path=features_path,
        input_bytes=dir_bytes(pages_path) + dir_bytes(features_path),
        geotagged=geotagged,
    )
