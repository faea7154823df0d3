"""Tile math goldens ported verbatim from /root/reference/lib/tile/tile_test.go."""

import pytest

from grandine_spark.kernels.rounding import round8
from grandine_spark.kernels.tilemath import (
    cell_parent,
    cell_ring,
    coverage,
    pack_cell,
    resolution,
    tile_bbox,
    tile_name,
    unpack_cell,
)

# lib/tile/tile_test.go:12-77 (incl. pole/antimeridian clamps)
TILE_NAME_CASES = [
    ((13.73630, 51.05377), 14, (8817, 5481)),
    ((18.39856, -33.90184), 14, (9029, 9833)),
    ((-54.59123, -25.59547), 14, (5707, 9397)),
    ((-21.94073, 64.14607), 14, (7193, 4354)),
    ((-31.16580, 83.65691), 14, (6773, 648)),
    ((-64.45649, -85.04438), 14, (5258, 16380)),
    ((180.0, -90.0), 1, (1, 1)),
    ((-180.0, 90.0), 1, (0, 0)),
]


@pytest.mark.parametrize("pt,z,expected", TILE_NAME_CASES)
def test_tile_name_goldens(pt, z, expected):
    x, y, zz = tile_name(pt[0], pt[1], z)
    assert (x, y) == expected
    assert zz == z


# lib/tile/tile_test.go:78-107 — expected values rounded at 8 decimals
TILE_BBOX_CASES = [
    ((0, 0, 0), (-180.0, -85.05112878, 180.0, 85.05112878)),
    ((0, 0, 1), (-180.0, 0.0, 0.0, 85.05112878)),
    ((0, 1, 1), (-180.0, -85.05112878, 0.0, 0.0)),
    ((1, 2, 2), (-90.0, -66.51326044, 0.0, 0.0)),
]


@pytest.mark.parametrize("tid,expected", TILE_BBOX_CASES)
def test_tile_bbox_goldens(tid, expected):
    x, y, z = tid
    got = tuple(round8(v) for v in tile_bbox(x, y, z))
    assert got == expected


def test_coverage_rectangle():
    # bbox spanning several z2 tiles: NW tile to SE tile, row-major
    cells = coverage(-90.0, -10.0, 10.0, 40.0, 2)
    xs = sorted({c[0] for c in cells})
    ys = sorted({c[1] for c in cells})
    assert all(c[2] == 2 for c in cells)
    # -90 lon → x=1; 10 lon → x=2; 40 lat → y=1; -10 lat → y=2
    assert xs == [1, 2] and ys == [1, 2]
    assert len(cells) == 4
    assert cells[0] == (1, 1, 2)  # NW first


def test_resolution():
    assert resolution(0, 1) == 360.0
    assert resolution(1, 4096) == 360.0 / (2 * 4096)


def test_pack_unpack_roundtrip_and_prefix():
    cid = pack_cell(8817, 5481, 14)
    assert unpack_cell(cid) == (8817, 5481, 14)
    parent = cell_parent(cid, 8)
    assert unpack_cell(parent) == (8817 >> 6, 5481 >> 6, 8)


def test_cell_ring():
    assert cell_ring(2, 2, 3, 0) == [(2, 2, 3)]
    ring1 = cell_ring(2, 2, 3, 1)
    assert len(ring1) == 8
    assert (2, 2, 3) not in ring1
    # antimeridian wrap at x=0
    ringw = cell_ring(0, 2, 3, 1)
    assert (7, 2, 3) in ringw
    # y clamped at pole
    ringp = cell_ring(2, 0, 3, 1)
    assert all(c[1] >= 0 for c in ringp)
    assert len(ringp) == 5
