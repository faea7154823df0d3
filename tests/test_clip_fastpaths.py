"""Differs for the r4 clip-stage optimizations: the batched border-crossing
verdict (ring_border_hits_batch vs the reference's line_intersections), the
bbox-prefiltered cut loop in clip_polygon (vs a naive 4x _cut_soup twin of
the pre-optimization code), and the inlined round8. All three must be EXACT
— same verdicts, same rings, same floats."""

import math

import numpy as np

from ref_kernels import _assemble_polygons, _cut_soup, _ring_area2_pts, _ring_depth

from grandine_spark.kernels import clip as C
from grandine_spark.kernels.geometry import line_intersections
from grandine_spark.kernels.rounding import POINT_PRECISION, round8, round_half_away

MASK = (0.0, 0.0, 4096.0, 4096.0)


def test_round8_matches_general_rounding():
    rng = np.random.default_rng(20260819)
    vals = list(rng.uniform(-1e7, 1e7, 2000)) + [
        0.0, -0.0, 0.123456785, -0.123456785, 1e-9, -1e-9, 4096.0,
        2.5e-8, -2.5e-8, 1.5e-8, -1.5e-8,
    ]
    for v in vals:
        v = float(v)
        assert round8(v) == round_half_away(v, POINT_PRECISION), v


def _rand_ring(rng, scale=4096.0):
    k = int(rng.integers(3, 30))
    cx, cy = rng.uniform(-0.5 * scale, 1.5 * scale, 2)
    ang = np.sort(rng.random(k)) * 2 * math.pi
    rad = rng.uniform(0.05, 1.2) * scale * (0.3 + 0.7 * rng.random(k))
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def _exact_border_hit(ring, bbox) -> bool:
    """The reference's short-circuit test: does the CLOSED ring meet any
    bbox border (lib/spatial/polygon.go:26-40)?"""
    r = np.asarray(ring, np.float64)
    if len(r) < 2:
        return False
    if tuple(r[0]) != tuple(r[-1]):
        r = np.vstack([r, r[:1]])
    return bool(line_intersections(r, C._bbox_borders(bbox)))


def test_border_hits_batch_matches_scalar():
    rng = np.random.default_rng(20260819)
    rings = [_rand_ring(rng) for _ in range(400)]
    # degenerate shapes the scalar path special-cases
    rings.append(np.array([[1.0, 1.0]]))  # single point -> False
    rings.append(np.array([[10.0, 10.0], [20.0, 20.0]]))  # open 2-pt inside
    rings.append(np.array([[-10.0, 5.0], [5000.0, 5.0], [5000.0, 9.0],
                           [-10.0, 9.0]]))  # crosses left+right borders
    rings.append(np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 1.0]]))
    # closed ring (explicit closing point)
    got = C.ring_border_hits_batch(rings, MASK)
    want = np.array([_exact_border_hit(r, MASK) for r in rings])
    assert np.array_equal(got, want)
    # the differ must see both verdicts
    assert want.any() and not want.all()


def _naive_general_clip(polygon, bbox):
    """The pre-optimization general path: normalize, then 4 unconditional
    _cut_soup passes over the WHOLE soup — the reference twin the
    bbox-prefiltered loop must equal."""
    minx, miny, maxx, maxy = bbox
    soup = []
    for ring in polygon:
        pts = [(float(x), float(y)) for x, y in np.asarray(ring, np.float64)]
        pts = [p for i, p in enumerate(pts) if i == 0 or p != pts[i - 1]]
        if len(pts) > 1 and pts[0] == pts[-1]:
            pts.pop()
        if len(pts) >= 3:
            soup.append(pts)
    if not soup:
        return []
    norm = []
    for i, pts in enumerate(soup):
        want_ccw = _ring_depth(i, soup) % 2 == 0
        is_ccw = _ring_area2_pts(pts) < 0
        norm.append(pts if is_ccw == want_ccw else pts[::-1])
    soup = norm
    for axis, v, sign in (
        (0, minx, 1.0), (0, maxx, -1.0), (1, miny, 1.0), (1, maxy, -1.0),
    ):
        soup = _cut_soup(soup, axis, v, sign)
        if not soup:
            return []
    return _assemble_polygons(soup)


def _eq_polys(a, b):
    if len(a) != len(b):
        return False
    for pa, pb in zip(a, b):
        if len(pa) != len(pb):
            return False
        for ra, rb in zip(pa, pb):
            if not np.array_equal(np.asarray(ra), np.asarray(rb)):
                return False
    return True


def test_clip_polygon_cut_prefilter_matches_naive():
    """Seeded differ: clip_polygon (bbox-prefiltered cuts) must produce the
    exact rings, in the exact order, of the naive always-cut path — for
    shells with holes, concave straddlers, and fully-inside/outside mixes."""
    rng = np.random.default_rng(20260819)
    n_nonempty = 0
    for trial in range(300):
        shell = _rand_ring(rng)
        polygon = [shell]
        if trial % 3 == 0:
            # hole: shrunk copy of the shell around its centroid
            c = shell.mean(axis=0)
            polygon.append(c + (shell - c) * 0.4)
        if trial % 7 == 0:
            # second, disjoint-ish ring in the same soup
            polygon.append(_rand_ring(rng) * 0.3 + 2000.0)
        got = C.clip_polygon(polygon, MASK)
        want = _naive_general_clip(polygon, MASK)
        # clip_polygon's single-ring fast paths return before the general
        # path; only compare when the general path runs
        if len(polygon) == 1 and not C.ring_border_hits_batch([shell], MASK)[0]:
            continue
        assert _eq_polys(got, want), trial
        n_nonempty += bool(got)
    assert n_nonempty > 80, n_nonempty


def test_clip_geom_border_hint_is_equivalent():
    rng = np.random.default_rng(7)
    for trial in range(60):
        ring = _rand_ring(rng)
        hit = _exact_border_hit(ring, MASK)
        a = C.clip_geom(3, [ring], MASK)
        b = C.clip_geom(3, [ring], MASK, border_hit=hit)
        assert len(a) == len(b), trial
        for (ga, pa), (gb, pb) in zip(a, b):
            assert ga == gb and _eq_polys([pa], [pb]), trial
