"""Coverage pre-classification (kernels/coverclass) — the r4 encode-stage
optimization. Its contract is CONSERVATIVE EXACTNESS: code 1/2 may only be
assigned when the exact pixel-space path provably decides the same; code 0
makes no claim. Verified two ways: a seeded kernel-level differ against
clip_polygon itself, and end-to-end byte-identity of build_tiles with the
classifier on vs forced off."""

import math

import numpy as np
import pytest


def _star(cx, cy, k, rmin, rmax, rng):
    ang = np.sort(rng.random(k)) * 2 * math.pi
    rad = rmin + rng.random(k) * (rmax - rmin)
    pts = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return pts


def test_classify_ring_cells_contract_differ():
    """Seeded differ: for every covered cell of random concave rings at
    mixed zooms, code 1 must mean clip_geom returns exactly the full-tile
    rectangle and code 2 must mean it returns nothing. (Code 0 rows are the
    exact path's business.) Also checks enough 1s/2s occur for the test to
    mean anything."""
    from ref_kernels import project_coords

    from grandine_spark.kernels import clip as _clip
    from grandine_spark.kernels.coverclass import classify_poly_cells
    from grandine_spark.kernels.mvt import EXTENT, TileParams
    from grandine_spark.kernels.tilemath import coverage

    rng = np.random.default_rng(20260819)
    mask = (0.0, 0.0, float(EXTENT), float(EXTENT))
    n1 = n2 = n0 = 0
    for trial in range(25):
        cx = float(rng.uniform(-160, 160))
        cy = float(rng.uniform(-65, 65))
        ring = _star(cx, cy, int(rng.integers(4, 14)), 0.15, 1.2, rng)
        z = int(rng.integers(8, 14))
        minx, miny = ring[:, 0].min(), ring[:, 1].min()
        maxx, maxy = ring[:, 0].max(), ring[:, 1].max()
        cells = coverage(minx, miny, maxx, maxy, z)
        # cap per-trial cells so the exact re-check stays fast
        if len(cells) > 400:
            idx = rng.choice(len(cells), 400, replace=False)
            cells = [cells[i] for i in idx]
        xs = np.array([c[0] for c in cells], np.int64)
        ys = np.array([c[1] for c in cells], np.int64)
        zs = np.full(len(cells), z, np.int64)
        cc = classify_poly_cells([ring], zs, xs, ys)
        for (x, y, _), code in zip(cells, cc):
            if code == 0:
                n0 += 1
                continue
            projected = project_coords(3, [ring], TileParams(x, y, z))
            out = _clip.clip_geom(3, projected, mask)
            if code == 1:
                n1 += 1
                assert len(out) == 1 and len(out[0][1]) == 1, (trial, x, y, z)
                r = np.asarray(out[0][1][0])
                exp = np.array(
                    [[0, 0], [EXTENT, 0], [EXTENT, EXTENT], [0, EXTENT]], float
                )
                assert np.array_equal(r, exp), (trial, x, y, z)
            else:
                n2 += 1
                assert out == [], (trial, x, y, z, code)
    # the differ must actually exercise the claims
    assert n1 > 500 and n2 > 50, (n1, n2, n0)


def test_classify_poly_cells_holed_contract_differ():
    """Seeded differ for the multi-ring path: holed star polygons at mixed
    zooms — every cell classified 2 must clip to nothing, and code 1 must
    never be assigned (holed polygons have no canonical-rect fast path).
    Coverage comes from the OUTER ring's bbox, so the classified-2
    population includes bbox-overshoot tiles that straddle the ring bbox
    (the case the r4 inside-bbox removal opened up)."""
    from ref_kernels import project_coords

    from grandine_spark.kernels import clip as _clip
    from grandine_spark.kernels.coverclass import classify_poly_cells
    from grandine_spark.kernels.mvt import EXTENT, TileParams
    from grandine_spark.kernels.tilemath import coverage

    rng = np.random.default_rng(20260820)
    mask = (0.0, 0.0, float(EXTENT), float(EXTENT))
    n2 = n0 = 0
    for trial in range(20):
        cx = float(rng.uniform(-160, 160))
        cy = float(rng.uniform(-65, 65))
        outer = _star(cx, cy, int(rng.integers(5, 14)), 0.5, 1.2, rng)
        hole = _star(cx, cy, int(rng.integers(4, 9)), 0.08, 0.35, rng)
        rings = [outer, hole]
        z = int(rng.integers(8, 14))
        cells = coverage(
            outer[:, 0].min(), outer[:, 1].min(),
            outer[:, 0].max(), outer[:, 1].max(), z,
        )
        if len(cells) > 400:
            idx = rng.choice(len(cells), 400, replace=False)
            cells = [cells[i] for i in idx]
        xs = np.array([c[0] for c in cells], np.int64)
        ys = np.array([c[1] for c in cells], np.int64)
        zs = np.full(len(cells), z, np.int64)
        cc = classify_poly_cells(rings, zs, xs, ys)
        assert not (cc == 1).any(), trial
        for (x, y, _), code in zip(cells, cc):
            if code == 0:
                n0 += 1
                continue
            n2 += 1
            projected = project_coords(3, rings, TileParams(x, y, z))
            assert _clip.clip_geom(3, projected, mask) == [], (trial, x, y, z)
    assert n2 > 200, (n2, n0)


def test_classify_ring_cells_bbox_overshoot():
    """A thin diagonal sliver's bbox coverage is mostly tiles the ring
    never reaches; those must classify 2 even though they straddle or hug
    the ring's bbox edge (the pre-r4 inside-bbox restriction left them 0),
    and each claim must match the exact clip."""
    from ref_kernels import project_coords

    from grandine_spark.kernels import clip as _clip
    from grandine_spark.kernels.coverclass import classify_poly_cells
    from grandine_spark.kernels.mvt import EXTENT, TileParams
    from grandine_spark.kernels.tilemath import coverage

    mask = (0.0, 0.0, float(EXTENT), float(EXTENT))
    # a 2-degree diagonal sliver 0.02 degrees wide
    ring = np.array(
        [[10.0, 40.0], [12.0, 42.0], [12.0, 42.02], [10.0, 40.02]], float
    )
    z = 12
    cells = coverage(10.0, 40.0, 12.0, 42.02, z)
    xs = np.array([c[0] for c in cells], np.int64)
    ys = np.array([c[1] for c in cells], np.int64)
    zs = np.full(len(cells), z, np.int64)
    cc = classify_poly_cells([ring], zs, xs, ys)
    n2 = int((cc == 2).sum())
    # the sliver's own tiles are ~linear in its span; the bbox is ~quadratic
    assert n2 > len(cells) * 0.8, (n2, len(cells))
    for (x, y, _), code in zip(cells, cc):
        if code == 2:
            projected = project_coords(3, [ring], TileParams(x, y, z))
            assert _clip.clip_geom(3, projected, mask) == [], (x, y)


def test_classify_line_cells_contract_differ():
    """Seeded differ for the line path: for every covered cell classified
    2, clip_line of the projected (optionally RDP-simplified) line must
    return nothing. Diagonal lines make bbox coverage quadratic while the
    line touches a linear number of cells — most rows must classify 2."""
    from ref_kernels import project_coords

    from grandine_spark.kernels import clip as _clip
    from grandine_spark.kernels.coverclass import classify_line_cells
    from grandine_spark.kernels.geometry import simplify_rdp
    from grandine_spark.kernels.mvt import EXTENT, TileParams
    from grandine_spark.kernels.tilemath import coverage, resolution

    rng = np.random.default_rng(20260819)
    mask = (0.0, 0.0, float(EXTENT), float(EXTENT))
    n2 = n0 = 0
    for trial in range(20):
        x0 = float(rng.uniform(-160, 160))
        y0 = float(rng.uniform(-70, 70))
        k = int(rng.integers(2, 9))
        line = np.column_stack(
            [x0 + rng.uniform(-1, 1, k).cumsum(), y0 + rng.uniform(-1, 1, k).cumsum()]
        )
        z = int(rng.integers(9, 14))
        simp = bool(trial % 2)
        cells = coverage(
            line[:, 0].min(), line[:, 1].min(), line[:, 0].max(), line[:, 1].max(), z
        )
        if len(cells) > 300:
            idx = rng.choice(len(cells), 300, replace=False)
            cells = [cells[i] for i in idx]
        xs = np.array([c[0] for c in cells], np.int64)
        ys = np.array([c[1] for c in cells], np.int64)
        zs = np.full(len(cells), z, np.int64)
        cc = classify_line_cells(line, zs, xs, ys, simplify=simp)
        coords = simplify_rdp(line, resolution(z, 4096)) if simp else line
        for (x, y, _), code in zip(cells, cc):
            if code == 0:
                n0 += 1
                continue
            n2 += 1
            projected = project_coords(2, coords, TileParams(x, y, z))
            assert _clip.clip_geom(2, projected, mask) == [], (trial, x, y, z)
    assert n2 > 1000, (n2, n0)


def test_classify_rows_groups_runs():
    """classify_rows parses each contiguous WKB run once and returns 0 for
    non-single-ring geometries (lines, points, holed polygons)."""
    from grandine_spark.kernels.coverclass import classify_rows
    from grandine_spark.kernels.wkb import to_wkb

    ring = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
    hole = np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0]])
    line = np.array([[0.0, 0.0], [4.0, 4.0]])
    w_poly = to_wkb(3, [ring])
    w_holed = to_wkb(3, [ring, hole])
    w_line = to_wkb(2, line)
    zs = np.full(6, 10, np.int64)
    # z10 tile containing (2,2): deep inside the ring
    n = 2.0**10
    tx = int((2.0 + 180.0) / 360.0 * n)
    ty = int(
        (1.0 - math.log(math.tan(math.radians(2.0)) + 1.0 / math.cos(math.radians(2.0))) / math.pi)
        / 2.0 * n
    )
    xs = np.full(6, tx, np.int64)
    ys = np.full(6, ty, np.int64)
    wkbs = np.array([w_poly, w_poly, w_holed, w_holed, w_line, w_line], object)
    cc = classify_rows(zs, xs, ys, wkbs)
    assert cc[0] == 1 and cc[1] == 1  # deep-interior tile of the ring
    # holed: the hole's corner touches this tile → exact path decides
    # (code 1 is never assigned to holed polygons; far-outside holed
    # tiles DO classify 2 — test_classify_poly_cells_holed_contract_differ)
    assert cc[2] == 0 and cc[3] == 0
    # the diagonal line passes straight through (2,2)'s tile: not provably
    # outside → 0 (a tile far off the diagonal would be 2, tested in the
    # line contract differ)
    assert cc[4] == 0 and cc[5] == 0


@pytest.mark.usefixtures("spark")
def test_build_tiles_classifier_byte_identity(spark):
    """End-to-end differ: build_tiles with the classifier ON is
    byte-identical (same tiles, same bytes, same n_features) to a span
    gate above every feature's span (every row code 0), on a corpus with concave + holed polygons,
    roads and POIs at zooms deep enough for full-cover/outside cells to
    dominate."""
    from grandine_spark.operators.tiling import build_tiles
    from grandine_spark.sources import synth

    feats = synth.features(spark, n_polygons=60, n_roads=30, n_pois=40)
    zooms = [2, 7, 12]
    for kw in ({}, {"simplify": True}, {"gzip": True, "codec": "geojson"}):
        on = {
            (r.tile_z, r.tile_x, r.tile_y): (r.n_features, bytes(r.tile))
            for r in build_tiles(feats, zooms, **kw).collect()
        }
        off = {
            (r.tile_z, r.tile_x, r.tile_y): (r.n_features, bytes(r.tile))
            for r in build_tiles(feats, zooms, classify_min_cells=10**9, **kw).collect()
        }
        assert on == off and len(on) > 1000, kw


def test_classify_rows_null_runs():
    """The span gate ships NULL wkb for rows that cannot pay for
    classification (build_tiles' classify_min_cells) — null runs must stay
    code 0 and must not break the run-batching of adjacent real features."""
    import numpy as np

    from grandine_spark.kernels.coverclass import classify_rows
    from grandine_spark.kernels.wkb import to_wkb

    sq = [[(0.0, 0.0), (40.0, 0.0), (40.0, 40.0), (0.0, 40.0), (0.0, 0.0)]]
    w = to_wkb(3, sq)
    zs = np.array([5] * 6, np.int64)
    xs = np.array([16, 17, 18, 16, 17, 18], np.int64)
    ys = np.array([14, 14, 14, 15, 15, 15], np.int64)
    wkbs = np.array([None, None, w, w, w, None], object)
    out = classify_rows(zs, xs, ys, wkbs)
    assert out[0] == 0 and out[1] == 0 and out[5] == 0
    # the real feature's run still classifies (cell (18,14) at z5 is
    # interior for this 40-degree square)
    assert out[2] in (0, 1, 2)
    # all-null batch
    out2 = classify_rows(zs, xs, ys, np.array([None] * 6, object))
    assert (out2 == 0).all()


@pytest.mark.usefixtures("spark")
def test_build_tiles_span_gate_byte_identity(spark):
    """Gate sweep: classify_min_cells=1 (classify everything) and a gate
    high enough to null every row both produce bytes identical to the
    default — code 0 is always-safe, so the gate can only shift work
    between the classifier and the exact encode path."""
    from grandine_spark.operators.tiling import build_tiles
    from grandine_spark.sources import synth

    feats = synth.features(spark, n_polygons=40, n_roads=20, n_pois=20)
    zooms = [4, 9]
    base = {
        (r.tile_z, r.tile_x, r.tile_y): (r.n_features, bytes(r.tile))
        for r in build_tiles(feats, zooms).collect()
    }
    for k in (1, 10**9):
        alt = {
            (r.tile_z, r.tile_x, r.tile_y): (r.n_features, bytes(r.tile))
            for r in build_tiles(feats, zooms, classify_min_cells=k).collect()
        }
        assert alt == base and len(base) > 100, k
