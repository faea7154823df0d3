"""Slippy-map tile math as NATIVE Spark Column expressions.

Same formulas as ``grandine_spark.kernels.tilemath`` (reference:
lib/tile/tile.go:37-49, lib/tile/bbox.go:5-21), expressed as Catalyst
expressions so the cell indexer runs inside WholeStageCodegen — no Python
boundary on the 100 TB hot path. The scalar kernels are the golden
cross-check.

Operation order matches Go exactly (e.g. ``(lat * π) / 180``) so the JVM,
numpy, and DuckDB oracle paths agree bitwise on the same input doubles.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.geometry import EARTH_RADIUS_M

WGS84_LAT_MAX = 85.0511287  # lib/tile/tile.go:10-13


def _scale(zoom: int | str) -> tuple[str, str]:
    """(2^zoom as DOUBLE, 2^zoom - 1 as BIGINT) SQL for an int zoom or the
    SQL name of an int zoom column. An int zoom constant-folds to the same
    literals a hand-written ``128.0D``/``127L`` would give."""
    n = f"pow(2.0D, CAST(({zoom}) AS DOUBLE))"
    return n, f"CAST({n} - 1.0D AS BIGINT)"


def tile_x(lon: str, zoom: int | str) -> Column:
    """lon → tile x at ``zoom`` (lib/tile/tile.go:42-43), bigint.

    ``lon`` is a column name (or SQL fragment); ``zoom`` is an int or the
    SQL name of an int column (per-row zoom, e.g. ``"tile_z"``). Built
    through ONE ``F.expr`` parse rather than ~40 py4j round-trips of
    Column operators — plan construction for a multi-zoom plan was >1s of
    driver wall purely in socket hops."""
    n, m = _scale(zoom)
    return F.expr(
        f"CAST(greatest(least(floor((({lon}) + 180.0D) / 360.0D * {n}), "
        f"{m}), 0L) AS BIGINT)"
    )


def tile_y(lat: str, zoom: int | str) -> Column:
    """lat → tile y at ``zoom`` (lib/tile/tile.go:44-45), bigint.
    Arguments as :func:`tile_x`."""
    n, m = _scale(zoom)
    pi = repr(math.pi)
    r = (
        f"greatest(least({lat}, {WGS84_LAT_MAX!r}D), -{WGS84_LAT_MAX!r}D)"
        f" * {pi}D / 180.0D"
    )
    return F.expr(
        f"CAST(greatest(least(floor((1.0D - ln(tan({r}) + 1.0D / "
        f"cos({r})) / {pi}D) / 2.0D * {n}), {m}), 0L) AS BIGINT)"
    )


def coverage_xy(
    minx: str, miny: str, maxx: str, maxy: str, zoom: int | str
) -> tuple[Column, Column, Column, Column]:
    """BBox → covering tile ranges (x1..x2, y1..y2), NW→SE
    (lib/tile/bbox.go:5-21). Use with ``explode(sequence(...))``.
    Arguments as :func:`tile_x`."""
    return (
        tile_x(minx, zoom),
        tile_y(maxy, zoom),  # top-left y comes from the NORTH edge
        tile_x(maxx, zoom),
        tile_y(miny, zoom),  # bottom-right y from the SOUTH edge
    )


def explode_coverage(
    df: DataFrame, zoom: int, minx="minx", miny="miny", maxx="maxx", maxy="maxy"
) -> DataFrame:
    """Explode each row into its covering (tile_x, tile_y) cells at ``zoom`` —
    the multi-cell replication step of the cell join (SURVEY.md J2/J4),
    entirely JVM-side via sequence+explode."""
    x1, y1, x2, y2 = coverage_xy(minx, miny, maxx, maxy, zoom)
    return (
        df.withColumn("tile_x", F.explode(F.sequence(x1, x2)))
        .withColumn("tile_y", F.explode(F.sequence(y1, y2)))
        .withColumn("tile_z", F.lit(zoom))
    )


def explode_point_cells(df: DataFrame, zooms: list[int]) -> DataFrame:
    """Append (tile_z, tile_x, tile_y) to a frame with ``lon``/``lat``
    columns: one row per point per zoom in
    ``zooms``. The cell is computed ONCE at ``max(zooms)``; every coarser
    zoom is a ``shiftright`` of it inside one explode — slippy cells nest
    exactly (parent = child >> Δz; the max-clamp commutes with the shift
    and values are non-negative), so a point costs one log/tan evaluation
    and the plan has one leg for all zooms."""
    zmax = max(zooms)
    fine = df.withColumn("_cx", tile_x("lon", zmax)).withColumn("_cy", tile_y("lat", zmax))
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(z).alias("tile_z"),
                    F.shiftright("_cx", zmax - z).alias("tile_x"),
                    F.shiftright("_cy", zmax - z).alias("tile_y"),
                )
                for z in zooms
            ]
        )
    )
    return fine.withColumn("_c", cells).select(
        *df.columns, "_c.tile_z", "_c.tile_x", "_c.tile_y"
    )


def point_in_bbox(px, py, minx, miny, maxx, maxy) -> Column:
    """Point.InBBox (lib/spatial/point.go:18-21) — pushdown-friendly."""
    return (px >= minx) & (px <= maxx) & (py >= miny) & (py <= maxy)


def haversine_m(lon1, lat1, lon2, lat2) -> Column:
    """Haversine meters, R = ``EARTH_RADIUS_M`` (lib/spatial/point.go:107-123),
    native."""
    rl1 = F.radians(lat1)
    rl2 = F.radians(lat2)
    dlat = rl2 - rl1
    dlon = F.radians(lon2) - F.radians(lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rl1) * F.cos(rl2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0) * F.atan2(F.sqrt(a), F.sqrt(F.lit(1.0) - a)) * F.lit(EARTH_RADIUS_M)


# --- geocoding (pages → points) ------------------------------------------

GEOTAG_RE = r"coords:\s*(-?\d+\.\d+),\s*(-?\d+\.\d+)"


def geocode_text(text: Column) -> tuple[Column, Column]:
    """Extract (lon, lat) from the deterministic geotag embedded in page text
    (``coords: {lat}, {lon}``, FIXTURES.md §1). Returns NULLs when absent —
    the geocoder drops those rows. Pure regexp_extract: JVM-side."""
    lat = F.regexp_extract(text, GEOTAG_RE, 1)
    lon = F.regexp_extract(text, GEOTAG_RE, 2)
    return (
        F.when(lon != "", lon.cast("double")),
        F.when(lat != "", lat.cast("double")),
    )


def zoom_renderable(props: Column, zoom: int) -> Column:
    """@zoom:min <= z <= @zoom:max with defaults 0/99
    (cmd/tiler/tiler.go:230-248); props is map<string,string>."""
    # try_cast: a non-numeric user-supplied zoom prop degrades to the
    # default (reference behavior) instead of throwing under ANSI mode
    zmin = F.coalesce(props.getItem("@zoom:min").try_cast("double"), F.lit(0.0))
    zmax = F.coalesce(props.getItem("@zoom:max").try_cast("double"), F.lit(99.0))
    return (F.lit(float(zoom)) >= zmin) & (F.lit(float(zoom)) <= zmax)


def layer_route(props: Column) -> Column:
    """props['@layer'] else 'default' (cmd/tiler/tiler.go:300-312)."""
    return F.coalesce(props.getItem("@layer"), F.lit("default"))


def quadkey(x: Column, y: Column, zoom: int) -> Column:
    """Bing-maps quadkey of a z/x/y cell: ``zoom`` base-4 digits, digit k
    = 2·y_bit + x_bit at level k (MSB first). A quadkey PREFIX of length
    k is exactly the zoom-k ancestor cell — the string-keyed sibling of
    ``kernels.tilemath.cell_parent``, JVM-native per character like the
    geohash encode."""
    out = None
    for k in range(zoom, 0, -1):
        d = (F.shiftright(y, k - 1) % 2) * 2 + F.shiftright(x, k - 1) % 2
        ch = F.element_at(
            F.array(F.lit("0"), F.lit("1"), F.lit("2"), F.lit("3")),
            (d + 1).cast("int"),
        )
        out = ch if out is None else F.concat(out, ch)
    # zoom 0: the world tile's quadkey is the empty string, not None
    return F.lit("") if out is None else out


def quadkey_to_xy(qk: Column, zoom: int) -> tuple[Column, Column]:
    """Inverse: (x, y) of a quadkey of known ``zoom`` — per-char digit
    accumulation, no Python."""
    x = F.lit(0).cast("bigint")
    y = F.lit(0).cast("bigint")
    for k in range(zoom):
        d = (F.instr(F.lit("0123"), F.substring(qk, k + 1, 1)) - 1).cast("bigint")
        x = x + (d % 2) * F.lit(1 << (zoom - 1 - k))
        y = y + F.shiftright(d, 1) * F.lit(1 << (zoom - 1 - k))
    return x, y


def quadkey_sql(x: str, y: str, zoom: int) -> str:
    """DuckDB twin of ``quadkey`` (same digit order and placement)."""
    parts = [
        f"substr('0123', CAST((({y} >> {k - 1}) & 1) * 2"
        f" + (({x} >> {k - 1}) & 1) AS INTEGER) + 1, 1)"
        for k in range(zoom, 0, -1)
    ]
    return " || ".join(parts)
