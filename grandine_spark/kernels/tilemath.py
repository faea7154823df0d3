"""Slippy-map tile math — the engine's spatial index (H3/S2 analog).

Exact-semantics port of the reference's tile cell formulas:
- TileName (point → z/x/y): lib/tile/tile.go:37-49 with the lat clamp to
  ±85.0511287 (lib/tile/tile.go:10-13) and x/y clamp to [0, 2^z - 1]
  (lib/tile/tile.go:56-62);
- ID.BBox / ID.NW (cell → geographic bbox): lib/tile/tile.go:19-31;
- Coverage (bbox → covering cell list): lib/tile/bbox.go:5-21;
- Resolution: lib/tile/tile.go:52-54.

Scalar forms (golden parity). The same formula is also expressed as native
Spark Column expressions in ``grandine_spark.functions.tile_exprs`` so the
hot path never leaves the JVM.

Packed cell id: ``(z << 58) | (x << 29) | y`` — 29 bits each for x/y supports
z ≤ 28; parent cell at z' < z is a prefix (x >> (z-z'), y >> (z-z')), giving
the "cell-prefix" join from BASELINE.json.
"""

from __future__ import annotations

import math

import numpy as np

WGS84_LAT_MAX = 85.0511287  # lib/tile/tile.go:10-13


def tile_name(lon: float, lat: float, zoom: int) -> tuple[int, int, int]:
    """Point → (x, y, z) cell, with reference clamping (lib/tile/tile.go:37-49)."""
    n = 2.0**zoom
    lat_rad = max(min(lat, WGS84_LAT_MAX), -WGS84_LAT_MAX) * math.pi / 180.0
    x = int(math.floor((lon + 180.0) / 360.0 * n))
    y = int(
        math.floor(
            (1.0 - math.log(math.tan(lat_rad) + 1.0 / math.cos(lat_rad)) / math.pi)
            / 2.0
            * n
        )
    )
    m = int(n - 1)
    return (min(max(x, 0), m), min(max(y, 0), m), zoom)


def tile_nw(x: int, y: int, z: int) -> tuple[float, float]:
    """Cell NW corner → (lon, lat) (lib/tile/tile.go:26-31)."""
    n = 2.0**z
    lon = x / n * 360.0 - 180.0
    lat = math.atan(math.sinh(math.pi * (1.0 - 2.0 * y / n))) * 180.0 / math.pi
    return lon, lat


def tile_bbox(x: int, y: int, z: int) -> tuple[float, float, float, float]:
    """Cell → (minx, miny, maxx, maxy) geographic bbox (lib/tile/tile.go:19-24)."""
    nw_lon, nw_lat = tile_nw(x, y, z)
    se_lon, se_lat = tile_nw(x + 1, y + 1, z)
    return (nw_lon, se_lat, se_lon, nw_lat)


def tile_edges(xs, ys, n: float):
    """Vectorized ID.BBox (lib/tile/tile.go:19-31): cells ``(xs, ys)`` of a
    grid ``n`` cells wide → float64 (west, east, north, south) degrees."""
    x, y = np.asarray(xs, np.float64), np.asarray(ys, np.float64)
    north, south = (
        np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * yy / n)))) for yy in (y, y + 1.0)
    )
    return x / n * 360.0 - 180.0, (x + 1.0) / n * 360.0 - 180.0, north, south


def coverage(
    minx: float, miny: float, maxx: float, maxy: float, zoom: int
) -> list[tuple[int, int, int]]:
    """BBox → covering cells, NW→SE row-major (lib/tile/bbox.go:5-21)."""
    x1, y1, _ = tile_name(minx, maxy, zoom)  # top-left
    x2, y2, _ = tile_name(maxx, miny, zoom)  # bottom-right
    return [(x, y, zoom) for x in range(x1, x2 + 1) for y in range(y1, y2 + 1)]


def coverage_count(
    minx: float, miny: float, maxx: float, maxy: float, zoom: int
) -> int:
    """Number of cells ``coverage`` would return, from the corner tiles only —
    O(1), never materializes the list (a world bbox at z12 is ~16.7M cells)."""
    x1, y1, _ = tile_name(minx, maxy, zoom)
    x2, y2, _ = tile_name(maxx, miny, zoom)
    return (x2 - x1 + 1) * (y2 - y1 + 1)


def resolution(zoomlevel: int, extent: int) -> float:
    """Minimal describable value inside a tile (lib/tile/tile.go:52-54)."""
    return 360.0 / (2.0**zoomlevel * float(extent))


# --- packed cell ids (engine extension: cell-prefix property) ---------------

_XY_BITS = 29


def pack_cell(x: int, y: int, z: int) -> int:
    return (z << (2 * _XY_BITS)) | (x << _XY_BITS) | y


def unpack_cell(cid: int) -> tuple[int, int, int]:
    mask = (1 << _XY_BITS) - 1
    return ((cid >> _XY_BITS) & mask, cid & mask, cid >> (2 * _XY_BITS))


def cell_parent(cid: int, parent_z: int) -> int:
    x, y, z = unpack_cell(cid)
    if parent_z > z:
        raise ValueError("parent_z must be <= z")
    d = z - parent_z
    return pack_cell(x >> d, y >> d, parent_z)


def cell_ring(x: int, y: int, z: int, radius: int) -> list[tuple[int, int, int]]:
    """Cells at Chebyshev distance exactly ``radius`` around (x,y) at zoom z.

    Engine extension (kNN via cell-ring expansion, per BASELINE.json); grounded
    on the reference's grid arithmetic only. X wraps around the antimeridian;
    Y is clamped to the grid.
    """
    n = 1 << z
    if radius == 0:
        return [(x, y, z)]
    out = []
    for dx in range(-radius, radius + 1):
        for dy in range(-radius, radius + 1):
            if max(abs(dx), abs(dy)) != radius:
                continue
            yy = y + dy
            if yy < 0 or yy >= n:
                continue
            out.append(((x + dx) % n, yy, z))
    return out
