"""Clipping goldens ported from /root/reference/lib/spatial/{line,polygon,clip_golang}_test.go."""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from grandine_spark.kernels.clip import (
    clip_geom,
    clip_line,
    clip_point,
    clip_polygon,
    clip_segment,
)


def test_clip_point():
    # lib/spatial/point.go:23-29 semantics (inclusive bounds)
    assert clip_point(0.5, 0.5, (0, 0, 1, 1))
    assert clip_point(0, 0, (0, 0, 1, 1))
    assert not clip_point(1.5, 0.5, (0, 0, 1, 1))


def test_clip_segment_half_cut():
    # lib/spatial/line_test.go:83-97: segment (0,0)-(1,0) against bbox (0,0)-(0.5,1)
    out = clip_segment(((0.0, 0.0), (1.0, 0.0)), (0.0, 0.0, 0.5, 1.0))
    assert out == [((0.0, 0.0), (0.5, 0.0))]


def test_clip_line_goldens():
    # lib/spatial/line_test.go:176-232
    ls1 = np.array([[1, 1], [1, 2], [2, 2], [3, 3]], float)
    # completely inside
    out = clip_line(ls1, (0, 0, 3, 3))
    assert len(out) == 1 and out[0].tolist() == ls1.tolist()
    # completely outside
    assert clip_line(ls1, (5, 5, 12, 10)) == []
    assert clip_line(ls1, (-5, -5, 0, 0)) == []

    # split into two sublines
    ls2 = np.array([[1, 1], [3, 3], [5, 1]], float)
    out = clip_line(ls2, (1, 1, 5, 2))
    assert len(out) == 2
    assert out[0].tolist() == [[1, 1], [2, 2]]
    assert out[1].tolist() == [[4, 2], [5, 1]]

    # cut linestring
    ls3 = np.array([[1, 1], [1, 2], [1, 5]], float)
    out = clip_line(ls3, (0, 0, 3, 3))
    assert len(out) == 1 and out[0].tolist() == [[1, 1], [1, 2], [1, 3]]


def test_clip_polygon_short_circuits():
    # lib/spatial/polygon_test.go:131-159
    p = [np.array([[1, 1], [2, 1], [2, 2], [1, 2]], float)]
    out = clip_polygon(p, (0, 0, 3, 3))  # completely inside bbox
    assert len(out) == 1 and out[0][0].tolist() == p[0].tolist()

    p2 = [np.array([[0, 0], [3, 0], [3, 3], [0, 3]], float)]
    out = clip_polygon(p2, (1, 1, 2, 2))  # bbox fully inside polygon
    assert len(out) == 1
    assert out[0][0].tolist() == [[1, 1], [2, 1], [2, 2], [1, 2]]


def test_clip_polygon_single_ring_cut():
    # lib/spatial/clip_golang_test.go:32-43: unit square cut at x=0.5
    poly1 = [np.array([[0, 1], [0, 0], [1, 0], [1, 1]], float)]
    out = clip_polygon(poly1, (0, 0, 0.5, 1))
    assert len(out) == 1
    ring = out[0][0]
    assert sorted(map(tuple, ring.tolist())) == [
        (0.0, 0.0),
        (0.0, 1.0),
        (0.5, 0.0),
        (0.5, 1.0),
    ]


def test_clip_polygon_fully_outside():
    poly = [np.array([[0, 0], [1, 0], [1, 1], [0, 1]], float)]
    assert clip_polygon(poly, (5, 5, 6, 6)) == []


def test_clip_geom_dispatch():
    assert clip_geom(1, (0.5, 0.5), (0, 0, 1, 1)) == [(1, (0.5, 0.5))]
    assert clip_geom(1, (2, 2), (0, 0, 1, 1)) == []
    out = clip_geom(2, np.array([[0, 0], [2, 0]], float), (0, 0, 1, 1))
    assert len(out) == 1 and out[0][0] == 2


@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.floats(-10, 10, allow_nan=False, width=32),
            st.floats(-10, 10, allow_nan=False, width=32),
        ),
        min_size=2,
        max_size=8,
    )
)
def test_clip_line_output_within_bbox(pts):
    """Property: every clipped output coordinate lies within the bbox
    (up to the 8-decimal rounding the reference applies to intersections)."""
    bbox = (-3.0, -3.0, 3.0, 3.0)
    line = np.array(pts, float)
    eps = 1e-8
    for out in clip_line(line, bbox):
        assert (out[:, 0] >= bbox[0] - eps).all()
        assert (out[:, 0] <= bbox[2] + eps).all()
        assert (out[:, 1] >= bbox[1] - eps).all()
        assert (out[:, 1] <= bbox[3] + eps).all()


def _cyc(ring):
    """Canonical form of a ring: rotation- and orientation-invariant."""
    pts = [tuple(p) for p in np.asarray(ring).tolist()]
    best = None
    for seq in (pts, pts[::-1]):
        for i in range(len(seq)):
            rot = tuple(seq[i:] + seq[:i])
            if best is None or rot < best:
                best = rot
    return best


def test_clip_polygon_concave_splits_into_two():
    """lib/spatial/clip_golang_test.go:44-60, in the GEOS build's form
    (lib/spatial/clip_geos.go:11-41): the U-polygon clipped at x=0.5 yields
    TWO separate result polygons, not one two-ring geometry."""
    u = [np.array(
        [[0, 0], [0, 0.2], [0.8, 0.2], [0.8, 0.8], [0, 0.8], [0, 1], [1, 1], [1, 0]],
        float,
    )]
    out = clip_polygon(u, (-0.1, -0.1, 0.5, 1.1))
    assert len(out) == 2 and all(len(p) == 1 for p in out)
    got = {_cyc(p[0]) for p in out}
    want = {
        _cyc(np.array([[0, 0.2], [0, 0], [0.5, 0], [0.5, 0.2]], float)),
        _cyc(np.array([[0, 1], [0, 0.8], [0.5, 0.8], [0.5, 1]], float)),
    }
    assert got == want


def test_clip_polygon_triangle_corner():
    # lib/spatial/clip_golang_test.go:61-63 with the exact expected corner
    tri = [np.array([[0, 10], [0, 0], [10, 0]], float)]
    out = clip_polygon(tri, (5, -5, 20, 20))
    assert len(out) == 1 and len(out[0]) == 1
    assert _cyc(out[0][0]) == _cyc(np.array([[5, 5], [10, 0], [5, 0]], float))


def test_clip_polygon_hole_cut_open_merges_into_shell():
    """A hole crossing the clip edge must merge into the shell boundary
    (GEOS intersection semantics) — one polygon, one C-shaped ring."""
    donut = [
        np.array([[0, 0], [4, 0], [4, 4], [0, 4]], float),
        np.array([[1, 1], [1, 3], [3, 3], [3, 1]], float),
    ]
    out = clip_polygon(donut, (0, 0, 2, 4))
    assert len(out) == 1 and len(out[0]) == 1
    want = np.array(
        [[0, 0], [2, 0], [2, 1], [1, 1], [1, 3], [2, 3], [2, 4], [0, 4]], float
    )
    assert _cyc(out[0][0]) == _cyc(want)


def test_clip_polygon_hole_inside_survives():
    donut = [
        np.array([[0, 0], [4, 0], [4, 4], [0, 4]], float),
        np.array([[1, 1], [1, 3], [3, 3], [3, 1]], float),
    ]
    out = clip_polygon(donut, (0, 0, 3.5, 4))
    assert len(out) == 1 and len(out[0]) == 2
    # reference winding: shell clockwise, hole counter-clockwise
    from ref_kernels import _ring_area2_pts

    assert _ring_area2_pts([tuple(p) for p in out[0][0].tolist()]) > 0
    assert _ring_area2_pts([tuple(p) for p in out[0][1].tolist()]) < 0
    assert _cyc(out[0][1]) == _cyc(donut[1])


def test_clip_polygon_self_intersect_fixture():
    """lib/spatial/clip_geos_test.go:19-30: the self-intersecting fixture
    clipped to (0,0)-(2000,2000) resolves into exactly 2 polygons (the
    reference reaches this via GEOS Buffer(0) topology repair)."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "fixtures", "self_intersect.geojson")
    fc = json.load(open(path))
    coords = fc["features"][0]["geometry"]["coordinates"]
    poly = [np.array(r, float) for r in coords]
    out = clip_polygon(poly, (0, 0, 2000, 2000))
    assert len(out) == 2


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.floats(-8, 8, allow_nan=False, width=16),
            st.floats(-8, 8, allow_nan=False, width=16),
        ),
        min_size=3,
        max_size=10,
        unique=True,
    )
)
def test_clip_polygon_pointwise_equivalence_convex(pts):
    """Property: for convex polygons (hull of random points), membership in
    the clipped result equals (in polygon) AND (in bbox) on a sample grid."""
    import math

    from ref_kernels import _pt_in_ring

    cx = sum(p[0] for p in pts) / len(pts)
    cy = sum(p[1] for p in pts) / len(pts)
    hull = sorted(pts, key=lambda p: math.atan2(p[1] - cy, p[0] - cx))
    ring = np.array(hull, float)
    # angular sort of unique points around the centroid is only convex-ish;
    # good enough: the property holds for any SIMPLE polygon, and angular
    # sort around an interior point of the hull yields a simple polygon
    bbox = (-3.0, -3.0, 3.0, 3.0)
    out = clip_polygon(ring is not None and [ring] or [], bbox)
    rings = [[tuple(q) for q in p[0].tolist()] for p in out]
    for gx in range(-6, 7, 2):
        for gy in range(-6, 7, 2):
            px, py = gx + 0.123456, gy + 0.654321  # off any clip/golden edge
            want = _pt_in_ring(px, py, [tuple(q) for q in ring.tolist()]) and (
                bbox[0] < px < bbox[2] and bbox[1] < py < bbox[3]
            )
            got = any(_pt_in_ring(px, py, r) for r in rings)
            assert got == want, (px, py, hull)


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.floats(-5, 5, allow_nan=False, width=16),
            st.floats(-5, 5, allow_nan=False, width=16),
        ),
        min_size=3,
        max_size=40,
    )
)
def test_ring_border_intersects_equals_exact(pts):
    """The vectorized prefilter + exact fallback must decide exactly like the
    full line_intersections test the reference's short-circuit uses."""
    from grandine_spark.kernels.clip import _bbox_borders, ring_border_hits_batch
    from grandine_spark.kernels.geometry import line_intersections

    ring = np.array(pts, float)
    # the exact oracle must see the ring CLOSED: rings are canonically open
    # in this kernel, and the closing segment intersects like any other
    closed = ring if tuple(ring[0]) == tuple(ring[-1]) else np.vstack(
        [ring, ring[:1]]
    )
    for bbox in [(-3, -3, 3, 3), (0, 0, 1, 1), (-5, -5, 5, 5)]:
        exact = bool(line_intersections(closed, _bbox_borders(bbox)))
        fast = bool(ring_border_hits_batch([ring], bbox)[0])
        assert fast == exact, (pts, bbox)


def test_clip_polygon_closing_edge_crossing():
    """Regression: an OPEN ring whose only border crossings are on the
    closing segment must not short-circuit to 'covers the whole bbox'.
    Found by the pointwise-equivalence property (hull (6,-3),(2,6),(-3,4)
    against bbox (-3,-3,3,3): the C->A closing edge is the only crossing,
    and the clip bbox sits inside the ring's bbox)."""
    ring = np.array([(6.0, -3.0), (2.0, 6.0), (-3.0, 4.0)])
    bbox = (-3.0, -3.0, 3.0, 3.0)
    out = clip_polygon([ring], bbox)
    assert len(out) == 1 and len(out[0]) == 1
    got = sorted(tuple(np.round(q, 4)) for q in out[0][0].tolist())
    want = sorted([(3.0, 3.0), (3.0, -0.6667), (-1.7143, 3.0)])
    assert got == want
    # closed-ring input must produce the identical result
    out2 = clip_polygon([np.vstack([ring, ring[:1]])], bbox)
    assert [(r.tolist()) for r in out2[0]] == [(r.tolist()) for r in out[0]]


def test_clip_polygon_concave_notch_excludes_tile():
    """Regression: a concave ring that SURROUNDS the tile without touching
    it (tile in the notch => fully outside the polygon) must clip to
    nothing, not to the full tile rectangle. The reference's short-circuit
    (lib/spatial/polygon.go:26-40) has this bug — bbox containment plus
    no border intersections does not imply coverage for concave rings."""
    # outer square [-4,4]^2 with slot [-2,2]^2 carved out, opened rightward
    # through a channel x in [2,4], y in [-0.5,0.5]
    ring = np.array(
        [(-4, -4), (4, -4), (4, -0.5), (2, -0.5), (2, -2), (-2, -2),
         (-2, 2), (2, 2), (2, 0.5), (4, 0.5), (4, 4), (-4, 4)], float
    )
    assert clip_polygon([ring], (-1.0, -1.0, 1.0, 1.0)) == []
    # ...but a tile inside the SOLID part of the same ring still gets the
    # full-rectangle fast path
    out = clip_polygon([ring], (-3.5, -3.5, -2.5, -2.5))
    assert len(out) == 1
    assert sorted(map(tuple, out[0][0].tolist())) == sorted(
        [(-3.5, -3.5), (-2.5, -3.5), (-2.5, -2.5), (-3.5, -2.5)]
    )


@settings(max_examples=120, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.floats(-6, 0, allow_nan=False, width=32),
    st.floats(-6, 0, allow_nan=False, width=32),
    st.floats(2, 9, allow_nan=False, width=32),
    st.floats(0.125, 0.375, allow_nan=False, width=32),
    st.floats(0.125, 0.375, allow_nan=False, width=32),
)
def test_clip_polygon_pointwise_equivalence_with_hole(x0, y0, s, fx, fy):
    """Property incl. HOLES: membership in the clipped result equals
    (inside shell) XOR-style even-odd with the hole, intersected with the
    bbox — sampled on an off-edge grid."""
    from ref_kernels import _pt_in_ring

    shell = [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s)]
    hx0, hy0 = x0 + fx * s, y0 + fy * s
    hs = s * 0.35
    hole = [(hx0, hy0), (hx0, hy0 + hs), (hx0 + hs, hy0 + hs), (hx0 + hs, hy0)]
    poly = [np.array(shell, float), np.array(hole, float)]
    bbox = (-3.0, -3.0, 3.0, 3.0)
    out = clip_polygon(poly, bbox)
    rings = [
        [tuple(q) for q in ring.tolist()] for p in out for ring in p
    ]
    for gx in range(-5, 6):
        for gy in range(-5, 6):
            px, py = gx + 0.1234567, gy + 0.7654321
            want = (
                _pt_in_ring(px, py, shell)
                != _pt_in_ring(px, py, hole)
            ) and _pt_in_ring(px, py, shell) and (
                bbox[0] < px < bbox[2] and bbox[1] < py < bbox[3]
            )
            got = sum(_pt_in_ring(px, py, r) for r in rings) % 2 == 1
            assert got == want, (px, py, x0, y0, s, fx, fy)


def test_large_ring_border_intersects_vectorized_branch():
    """Regression: a ring with >24 points must get the exact border verdict
    (the old scalar test's vectorized branch once fell off the end and
    returned None, so clip_polygon emitted the full bbox rectangle for any
    large polygon only partially covering the tile)."""
    from grandine_spark.kernels.clip import _bbox_borders, ring_border_hits_batch
    from grandine_spark.kernels.geometry import line_intersections

    # 30-vertex star centered at origin, radius alternating 0.5 / 2.0 —
    # crosses the (-1,-1,1,1) bbox border many times.
    ang = np.linspace(0, 2 * np.pi, 31)[:-1]
    rad = np.where(np.arange(30) % 2 == 0, 2.0, 0.5)
    star = np.stack([rad * np.cos(ang), rad * np.sin(ang)], axis=1)
    star = np.vstack([star, star[:1]])
    bbox = (-1.0, -1.0, 1.0, 1.0)
    assert len(star) > 24
    got = bool(ring_border_hits_batch([star], bbox)[0])
    assert got  # the star crosses the border, and the exact test agrees
    assert got == bool(line_intersections(star, _bbox_borders(bbox)))

    # And clip must NOT be the full rectangle: area of clipped pieces must be
    # strictly less than the bbox area (the star covers only part of the tile).
    from grandine_spark.kernels.geometry import ring_area2

    out = clip_polygon([star], bbox)
    total = sum(abs(ring_area2(p[0])) / 2.0 for p in out)
    assert 0.0 < total < 3.9, total  # bbox area is 4.0

    # A large ring fully containing the bbox still yields the rectangle.
    big = np.stack([10 * np.cos(ang), 10 * np.sin(ang)], axis=1)
    big = np.vstack([big, big[:1]])
    out2 = clip_polygon([big], bbox)
    assert len(out2) == 1
    assert abs(abs(ring_area2(out2[0][0])) / 2.0 - 4.0) < 1e-9


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.floats(-8, 8, allow_nan=False, width=16),
            st.floats(-8, 8, allow_nan=False, width=16),
        ),
        min_size=2,
        max_size=8,
    )
)
def test_clip_line_two_sided(pts):
    """Two-sided line-clip property. The output-within-bbox property alone
    cannot catch a clip that silently DROPS segments (under-coverage) or
    INVENTS geometry off the input line (infidelity):
    (1) completeness — every sampled input point strictly inside the bbox
        lies on some output polyline;
    (2) faithfulness — every output vertex lies on the input polyline
        (within the kernel's 8-decimal intersection rounding)."""
    from grandine_spark.kernels.geometry import dist_points_to_line_np

    bbox = (-3.0, -3.0, 3.0, 3.0)
    line = np.array(pts, float)
    outs = clip_line(line, bbox)
    # (1) completeness: sample interior of each input segment
    er = 1e-6  # erosion: skip points within er of the border
    for i in range(len(pts) - 1):
        (x1, y1), (x2, y2) = pts[i], pts[i + 1]
        for t in (0.1, 0.3, 0.5, 0.7, 0.9):
            px, py = x1 + t * (x2 - x1), y1 + t * (y2 - y1)
            if not (
                bbox[0] + er < px < bbox[2] - er
                and bbox[1] + er < py < bbox[3] - er
            ):
                continue
            d = min(
                (
                    float(dist_points_to_line_np(
                        np.array([px]), np.array([py]), o
                    )[0])
                    for o in outs
                    if len(o) >= 2
                ),
                default=float("inf"),
            )
            assert d <= 1e-6, (px, py, d, pts)
    # (2) faithfulness: every output vertex is on the input line
    if len(line) >= 2:
        for o in outs:
            d = dist_points_to_line_np(o[:, 0], o[:, 1], line)
            assert (d <= 1e-7).all(), (o.tolist(), pts)


def test_clip_polygon_pointwise_concave_with_holes():
    """Pointwise equivalence for CONCAVE star polygons, 40% with a hole —
    the convex property can't reach the parity-stitch engine's hard cases
    (notches, multi-result splits, hole survival). Seeded port of the 4000-
    polygon differ that validated the r3-late clip fixes; grid points within
    1e-6 of any edge are skipped (8-dp rounding slack)."""
    import math
    import random

    from ref_kernels import _pt_in_ring

    from grandine_spark.kernels.geometry import dist_points_to_line_np

    rng = random.Random(20260819)
    BBOX = (-3.0, -3.0, 3.0, 3.0)

    def star(cx, cy, n, rmin, rmax):
        angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
        if len(set(angs)) < n:
            return None
        return np.array(
            [(cx + math.cos(a) * rng.uniform(rmin, rmax),
              cy + math.sin(a) * rng.uniform(rmin, rmax)) for a in angs],
            float,
        )

    def evenodd(px, py, rings):
        return sum(
            _pt_in_ring(px, py, [tuple(q) for q in np.asarray(r).tolist()])
            for r in rings
        ) % 2 == 1

    def neardist(px, py, rings):
        return min(
            float(dist_points_to_line_np(
                np.array([px]), np.array([py]),
                np.vstack([np.asarray(r, float), np.asarray(r, float)[:1]]),
            )[0])
            for r in rings
        )

    borders = [np.array(
        [[BBOX[0], BBOX[1]], [BBOX[2], BBOX[1]], [BBOX[2], BBOX[3]],
         [BBOX[0], BBOX[3]]], float)]
    checked = 0
    for _ in range(60):
        cx, cy = rng.uniform(-2, 2), rng.uniform(-2, 2)
        shell = star(cx, cy, rng.randint(5, 20), 0.5, rng.uniform(1.0, 6.0))
        if shell is None:
            continue
        polygon = [shell]
        if rng.random() < 0.4:
            rmin_shell = min(math.hypot(x - cx, y - cy) for x, y in shell)
            hole = star(cx, cy, rng.randint(4, 8),
                        0.1 * rmin_shell, 0.4 * rmin_shell)
            if hole is not None:
                polygon.append(hole)
        out = clip_polygon([r.copy() for r in polygon], BBOX)
        out_rings = [r for p in out for r in p]
        for gx in range(-6, 7, 2):
            for gy in range(-6, 7, 2):
                px, py = gx + 0.1234567, gy + 0.7654321
                if (neardist(px, py, polygon) < 1e-6
                        or neardist(px, py, borders) < 1e-6):
                    continue
                want = evenodd(px, py, polygon) and (
                    BBOX[0] < px < BBOX[2] and BBOX[1] < py < BBOX[3]
                )
                got = evenodd(px, py, out_rings) if out_rings else False
                assert got == want, (px, py, shell.tolist())
                checked += 1
    assert checked > 1000


def test_pt_in_ring_np_matches_scalar():
    """Seeded differ: the vectorized single-point ray-cast used by the
    notch guard must agree with the scalar _pt_in_ring on random rings
    (open AND closed forms) and random probe points."""
    import random

    import numpy as np

    from ref_kernels import _pt_in_ring

    from grandine_spark.kernels.clip import _pt_in_ring_np

    rng = random.Random(20260819)
    checked = 0
    for _ in range(200):
        n = rng.randint(3, 24)
        ring = [(rng.uniform(-5, 5), rng.uniform(-5, 5)) for _ in range(n)]
        closed = ring + [ring[0]] if rng.random() < 0.5 else ring
        arr = np.asarray(closed, np.float64)
        for _ in range(10):
            px, py = rng.uniform(-6, 6), rng.uniform(-6, 6)
            assert _pt_in_ring_np(px, py, arr) == _pt_in_ring(px, py, closed), (
                px, py, closed,
            )
            checked += 1
    assert checked == 2000
