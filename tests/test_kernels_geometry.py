"""Geometry kernel goldens ported verbatim from the reference unit tests
(/root/reference/lib/spatial/{point,line,polygon,merge}_test.go)."""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from grandine_spark.kernels.geometry import (
    bearing,
    fix_winding,
    haversine,
    is_clockwise,
    line_intersections,
    merge_features,
    merge_lines,
    point_in_polygon,
    points_in_polygon_np,
    ring_area2,
    segment_cross_np,
    segment_intersection,
    simplify_rdp,
    validate_topology,
)
from grandine_spark.kernels.rounding import round8, round8_np

SQUARE = [np.array([[-1, 1], [-1, -1], [1, -1], [1, 1]], float)]
TRIANGLE = [np.array([[0, 0], [1, 2], [2, 0]], float)]
SQUARE_WITH_HOLE = [
    np.array([[0, 0], [0, 10], [10, 10], [10, 0]], float),
    np.array([[2.5, 2.5], [2.5, 7.5], [7.5, 7.5], [7.5, 2.5]], float),
]
# lib/spatial/point_test.go:69-73
CLOSING_POLY = [
    np.array(
        [
            [7.3828125, -23.241346102386135],
            [28.4765625, -8.05922962720018],
            [55.1953125, -11.178401873711772],
            [22.148437499999996, -33.137551192346145],
        ],
        float,
    )
]


def test_round_with_precision():
    # lib/spatial/point_test.go:12-14
    assert round8(-5.4213000001) == -5.4213
    assert round8(10.9874000001) == 10.9874
    assert round8_np(np.array([-5.4213000001, 10.9874000001])).tolist() == [
        -5.4213,
        10.9874,
    ]


# lib/spatial/point_test.go:16-75
PIP_CASES = [
    ((0, 0), SQUARE, True),
    ((-2, -2), SQUARE, False),
    ((3, 3), SQUARE, False),
    ((1, 1), TRIANGLE, True),
    ((0.5, 1.1), TRIANGLE, False),
    ((1, 1), SQUARE_WITH_HOLE, True),
    ((5, 5), SQUARE_WITH_HOLE, False),
    ((25.48828125, -18.312810846425432), CLOSING_POLY, True),
]


@pytest.mark.parametrize("pt,poly,expected", PIP_CASES)
def test_point_in_polygon_goldens(pt, poly, expected):
    assert point_in_polygon(pt[0], pt[1], poly) is expected


def test_points_in_polygon_np_matches_scalar_on_goldens():
    for poly in (SQUARE, TRIANGLE, SQUARE_WITH_HOLE, CLOSING_POLY):
        pts = [c[0] for c in PIP_CASES]
        px = np.array([p[0] for p in pts], float)
        py = np.array([p[1] for p in pts], float)
        got = points_in_polygon_np(px, py, poly)
        exp = [point_in_polygon(x, y, poly) for x, y in pts]
        assert got.tolist() == exp


@settings(max_examples=200, deadline=None)
@given(
    st.floats(-12, 12, allow_nan=False, allow_infinity=False),
    st.floats(-12, 12, allow_nan=False, allow_infinity=False),
)
def test_pip_vectorized_equals_scalar_random(x, y):
    for poly in (SQUARE, TRIANGLE, SQUARE_WITH_HOLE, CLOSING_POLY):
        scalar = point_in_polygon(x, y, poly)
        vec = points_in_polygon_np(np.array([x]), np.array([y]), poly)[0]
        assert bool(vec) == scalar


def test_segment_intersection_goldens():
    # lib/spatial/line_test.go:12-43
    l1 = ((0, 0), (0, 2))
    l2 = ((0, 3), (0, 4))
    l3 = ((-1, 1), (1, 1))
    l4 = ((1, 1), (2, 1))
    ipt, ok = segment_intersection(l1, l3)
    assert ok and ipt == (0, 1)
    _, ok = segment_intersection(l1, l2)
    assert not ok  # parallel
    ipt, ok = segment_intersection(l1, l4)
    assert ipt == (0, 1) and not ok  # intersection off-segment

    # lib/spatial/line_test.go:45-71
    s1 = ((-5.625, 40.979898069620134), (-11.25, 40.979898069620134))
    s2 = ((-6.13037109375, 41.07935114946896), (-6.0205078125, 40.66397287638688))
    _, ok = segment_intersection(s1, s2)
    assert ok


def test_segment_cross_np_matches_scalar():
    """segment_cross_np against the scalar segment_intersection over every
    pair of seeded segments: general position, parallel pairs (det == 0),
    collinear overlaps, shared endpoints, and coordinates rounded to 0-8
    decimals or left at full precision, so that the 8-dp rounding of the
    point and of the endpoint bounds decides. ``ok`` must
    equal the scalar verdict, and the point must equal it where ``ok``."""
    rng = np.random.default_rng(20261018)
    p_segs, q_segs = [], []
    for dec in [*range(9), None]:  # None: full precision, beyond 8 dp

        def rand(*shape):
            a = rng.uniform(-5.0, 5.0, shape)
            return a if dec is None else np.round(a, dec)

        p = rand(12, 2, 2)
        d = p[:, 1] - p[:, 0]
        t = rng.integers(-1, 3, (12, 2, 1)).astype(float)
        q = [
            rand(24, 2, 2),  # crossings and misses
            p[:, ::-1],  # reversed: parallel, det == 0
            p + rand(12, 1, 2) / 5.0,  # translated: parallel
            p[:, :1] + t * d[:, None, :],  # collinear overlap
            np.stack([p[:, 1], rand(12, 2)], 1),  # shared endpoints
            np.stack([rand(12, 2), p[:, 0]], 1),
        ]
        p_segs.append(p)
        q_segs.extend(q)
    p = np.concatenate(p_segs)
    q = np.concatenate(q_segs)

    def axes(a, k):
        return a[:, k, 0].copy(), a[:, k, 1].copy()

    ix, iy, ok = segment_cross_np(axes(p, 0), axes(p, 1), axes(q, 0), axes(q, 1))
    verdicts = set()
    for i, s1 in enumerate(p.tolist()):
        for j, s2 in enumerate(q.tolist()):
            (px, py), want = segment_intersection(s1, s2)
            assert bool(ok[i, j]) == want, (s1, s2)
            if want:
                assert (ix[i, j], iy[i, j]) == (px, py), (s1, s2)
                verdicts.add("shared" if (px, py) in map(tuple, s1 + s2) else "hit")
            else:
                verdicts.add("miss")
    assert verdicts == {"hit", "shared", "miss"}


def test_line_intersections_dedup():
    line = np.array([[0, 0], [10, 0]], float)
    segs = [((5, -1), (5, 1)), ((5, 1), (5, -1))]  # same crossing twice
    assert line_intersections(line, segs) == {(5.0, 0.0)}


def test_area_clockwise():
    # Go's Clockwise() is Area()>0 with Area = sum((y_i+y_j)*(x_i-x_j))
    # (lib/spatial/line.go:156-169); this ring yields +2 → "clockwise".
    cw = np.array([[1, 0], [1, 1], [0, 1], [0, 0]], float)
    assert is_clockwise(cw)
    assert not is_clockwise(cw[::-1])
    assert ring_area2(cw) == -ring_area2(cw[::-1])


def test_fix_winding_golden():
    # lib/spatial/polygon_test.go:39-62
    poly = [
        np.array(
            [
                [-2.109375, 11.178401873711785],
                [-16.875, -43.06888777416961],
                [62.57812500000001, -43.580390855607845],
                [81.5625, 8.407168163601076],
            ]
        ),
        np.array(
            [
                [7.3828125, -23.241346102386135],
                [28.4765625, -8.05922962720018],
                [55.1953125, -11.178401873711772],
                [22.148437499999996, -33.137551192346145],
            ]
        ),
        np.array(
            [
                [25.48828125, -18.312810846425432],
                [33.22265625, -16.720385051693988],
                [34.013671875, -21.207458730482642],
                [23.466796875, -24.766784522874428],
            ]
        ),
        np.array(
            [
                [27.5537109375, -12.618897304044012],
                [29.02587890625, -12.146745814539685],
                [29.377441406249996, -14.604847155053898],
                [26.3671875, -15.855673509998681],
            ]
        ),
        np.array(
            [
                [27.0703125, -20.3034175184893],
                [27.509765625, -21.616579336740593],
                [31.113281249999996, -19.559790136497398],
            ]
        ),
    ]
    assert [is_clockwise(r) for r in poly] == [True, False, False, False, True]
    fixed = fix_winding(poly)
    assert [is_clockwise(r) for r in fixed] == [True, False, True, True, False]


def test_validate_topology():
    # lib/spatial/polygon_test.go:131-139
    assert validate_topology([np.array([[3, 4], [2, 9], [1, 4]], float)])
    assert not validate_topology([np.array([[3, 4], [2, 9], [1, 4], [1, 5]], float)])


def test_haversine_golden():
    # lib/spatial/point_test.go:92-96
    d = haversine(7.06659, 50.88354, 6.96299, 50.93846)
    assert round(d) == 9490


def test_haversine_vectorized():
    d = haversine(
        np.array([7.06659, 0.0]),
        np.array([50.88354, 0.0]),
        np.array([6.96299, 0.0]),
        np.array([50.93846, 0.0]),
    )
    assert round(d[0]) == 9490 and d[1] == 0.0


def test_bearing():
    assert bearing(0, 0, 0, 1) == 0.0  # due north
    assert abs(bearing(0, 0, 1, 0) - 90.0) < 1e-9  # due east


def test_merge_lines():
    l1 = np.array([[1, 0], [1, 1]], float)
    l2 = np.array([[1, 1], [2, 2]], float)
    merged, ok = merge_lines(l1, l2)
    assert ok and merged.tolist() == [[1, 0], [1, 1], [2, 2]]
    merged, ok = merge_lines(l2, l1)  # l1 tail == l2 head (other direction)
    assert ok
    _, ok = merge_lines(
        np.array([[0, 0], [1, 0]], float), np.array([[5, 5], [6, 6]], float)
    )
    assert not ok


def test_merge_features_golden():
    # lib/spatial/merge_test.go:11-53
    props1 = {"1": 2}
    props2 = {"1": 3.1}
    feats = [
        {"geom_type": 2, "coords": np.array([[1, 2], [3, 4]], float), "props": props1},
        {"geom_type": 2, "coords": np.array([[3, 4], [5, 6]], float), "props": props2},
    ]
    out = merge_features(list(feats))
    assert len(out) == 2  # different props → no merge

    props = {"a": 1, "b": "foo", "c": 1.234}
    f1 = {
        "geom_type": 2,
        "coords": np.array([[1, 0], [1, 1], [2, 3], [5, 6]], float),
        "props": props,
    }
    f2 = {
        "geom_type": 2,
        "coords": np.array([[5, 6], [7, 8], [6, 6], [4, 5]], float),
        "props": props,
    }
    out = merge_features([f1, f2])
    assert len(out) == 1
    assert out[0]["coords"].tolist() == [
        [1, 0],
        [1, 1],
        [2, 3],
        [5, 6],
        [7, 8],
        [6, 6],
        [4, 5],
    ]


def test_simplify_rdp():
    # collinear interior points collapse
    line = np.array([[0, 0], [1, 0.001], [2, 0], [3, 0.001], [4, 0]], float)
    out = simplify_rdp(line, 0.01)
    assert out.tolist() == [[0, 0], [4, 0]]
    # sharp corner survives
    line2 = np.array([[0, 0], [2, 2], [4, 0]], float)
    out2 = simplify_rdp(line2, 0.5)
    assert out2.tolist() == [[0, 0], [2, 2], [4, 0]]
    # short line passthrough
    line3 = np.array([[0, 0], [1, 1]], float)
    assert simplify_rdp(line3, 10).tolist() == [[0, 0], [1, 1]]


def test_merge_features_preserves_segments_seeded():
    """Invariant differ (seeded): merging stitches lines within equal-props
    buckets but must preserve the per-bucket multiset of undirected
    segments, and pass non-line geometries through untouched."""
    import random

    rng = random.Random(7)

    def segs_of(features):
        out = {}
        for ft in features:
            if ft["geom_type"] != 2:
                continue
            key = tuple(sorted(ft["props"].items()))
            c = np.asarray(ft["coords"], float)
            for i in range(len(c) - 1):
                a, b = tuple(c[i]), tuple(c[i + 1])
                s = (a, b) if a <= b else (b, a)
                out.setdefault(key, {}).setdefault(s, 0)
                out[key][s] += 1
        return out

    for _ in range(400):
        n = rng.randint(4, 12)
        path = [(round(rng.uniform(-5, 5), 2), round(rng.uniform(-5, 5), 2))
                for _ in range(n)]
        cuts = sorted(rng.sample(range(1, n - 1),
                                 k=rng.randint(0, min(3, n - 2))))
        pieces, lo = [], 0
        for c in cuts:
            pieces.append(path[lo:c + 1])
            lo = c
        pieces.append(path[lo:])
        feats = [
            {"geom_type": 2, "coords": np.array(p, float),
             "props": {"k": rng.choice(["a", "b"])}}
            for p in pieces if len(p) >= 2
        ]
        feats.append({"geom_type": 1, "coords": (0.0, 0.0), "props": {"k": "a"}})
        rng.shuffle(feats)
        out = merge_features(list(feats))
        assert segs_of(feats) == segs_of(out)
        assert sum(f["geom_type"] == 1 for f in feats) == sum(
            f["geom_type"] == 1 for f in out
        )


def test_fix_winding_odd_nesting_seeded():
    """Invariant differ (seeded): random nested square rings (shuffled hole
    order, random input orientations) — ring 0 ends clockwise, every other
    ring's orientation satisfies the odd-nesting rule, point sets unchanged.
    The containment oracle samples a VERTEX (like the kernel): a centroid
    sample is wrong for an outer ring whose center falls inside its own
    descendants."""
    import random

    rng = random.Random(11)

    def square(cx, cy, r, cw):
        sq = np.array(
            [(cx - r, cy - r), (cx - r, cy + r), (cx + r, cy + r),
             (cx + r, cy - r)], float)
        return sq if cw == is_clockwise(sq) else sq[::-1].copy()

    def contains(outer, px, py):
        minx, miny = outer.min(axis=0)
        maxx, maxy = outer.max(axis=0)
        return minx < px < maxx and miny < py < maxy

    for _ in range(500):
        depth = rng.randint(1, 5)
        rings, r, cx, cy = [], 16.0, 0.0, 0.0
        for _d in range(depth):
            rings.append(square(cx, cy, r, rng.random() < 0.5))
            r *= rng.uniform(0.3, 0.6)
            cx += rng.uniform(-r * 0.3, r * 0.3)
            cy += rng.uniform(-r * 0.3, r * 0.3)
        tail = rings[1:]
        rng.shuffle(tail)
        rings = rings[:1] + tail
        out = fix_winding([q.copy() for q in rings])
        assert len(out) == len(rings) and is_clockwise(out[0])
        for a, b in zip(rings, out):
            assert sorted(map(tuple, a.tolist())) == sorted(
                map(tuple, b.tolist()))
        for n in range(1, len(out)):
            px, py = float(out[n][0, 0]), float(out[n][0, 1])
            inr = sum(
                1 for m in range(len(out))
                if m != n and contains(out[m], px, py)
            )
            assert (not is_clockwise(out[n])) == (inr % 2 == 1)
