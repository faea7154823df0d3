"""Core geometry kernels: intersection, point-in-polygon, winding, merge,
simplify, haversine, bearing — exact-semantics re-implementations of the
reference (file:line cites inline), in both scalar (golden parity) and
vectorized numpy (batch/UDF) forms.

Geometry representation in these kernels:
- point: (x, y) float tuple
- line / ring: numpy array of shape (k, 2) float64 (ring NOT closed in memory,
  matching the reference: lib/spatial/wkb.go closes rings only on the wire)
- polygon: list of rings; ring 0 = outer shell, others = holes
"""

from __future__ import annotations

import math

import numpy as np

from .rounding import round8, round8_np

# --------------------------------------------------------------------------
# segment intersection (lib/spatial/line.go:332-348, lib/spatial/conversion.go)
# --------------------------------------------------------------------------


def _carthesian(p1x, p1y, p2x, p2y):
    """Line-segment → cartesian coefficients (lib/spatial/conversion.go:5-10)."""
    a = p1y - p2y
    b = p2x - p1x
    c = p2x * p1y - p1x * p2y
    return a, b, c


def _has_point(s1x, s1y, s2x, s2y, px, py):
    """Segment.HasPoint — bounds test on ROUNDED endpoints
    (lib/spatial/line.go:240-253)."""
    r1x, r1y, r2x, r2y = round8(s1x), round8(s1y), round8(s2x), round8(s2y)
    return (
        min(r1x, r2x) <= px <= max(r1x, r2x) and min(r1y, r2y) <= py <= max(r1y, r2y)
    )


def segment_intersection(s1, s2):
    """Intersection of two segments; returns (point, bool)
    (lib/spatial/line.go:332-348). The intersection point is rounded to
    8 decimals before the on-segment test, exactly like the reference."""
    (p1, p2), (p3, p4) = s1, s2
    a1, b1, c1 = _carthesian(p1[0], p1[1], p2[0], p2[1])
    a2, b2, c2 = _carthesian(p3[0], p3[1], p4[0], p4[1])
    det = a1 * b2 - a2 * b1
    if det == 0:
        return (0.0, 0.0), False
    ix = round8((b2 * c1 - b1 * c2) / det)
    iy = round8((a1 * c2 - a2 * c1) / det)
    ok = _has_point(p1[0], p1[1], p2[0], p2[1], ix, iy) and _has_point(
        p3[0], p3[1], p4[0], p4[1], ix, iy
    )
    return (ix, iy), ok


def _rounded_span(s0, s1):
    """Per-segment HasPoint bounds (lo_x, hi_x, lo_y, hi_y) on the ROUNDED
    endpoints (lib/spatial/line.go:240-253)."""
    (x0, y0), (x1, y1) = s0, s1
    rx0, ry0, rx1, ry1 = (round8_np(v) for v in (x0, y0, x1, y1))
    return (
        np.minimum(rx0, rx1), np.maximum(rx0, rx1),
        np.minimum(ry0, ry1), np.maximum(ry0, ry1),
    )


def segment_cross_np(p0, p1, q0, q1):
    """(N,M) numpy form of :func:`segment_intersection`, segment
    ``p0[i] → p1[i]`` against ``q0[j] → q1[j]``: same cartesian
    coefficients, 8-dp rounded point and rounded-endpoint bounds on both
    segments (lib/spatial/line.go:240-348). Each argument is an ``(x, y)``
    pair of contiguous 1-D float64 arrays (strided ``[:, k]`` views cost
    ~11 % on the PIP kernel); ``p1`` may be a pair of scalars. Returns
    (N,M) ``(ix, iy, ok)``; the point is meaningful only where ``ok``."""
    (p0x, p0y), (p1x, p1y) = p0, p1
    (q0x, q0y), (q1x, q1y) = q0, q1
    a1 = (p0y - p1y)[:, None]
    b1 = (p1x - p0x)[:, None]
    c1 = (p1x * p0y - p0x * p1y)[:, None]
    a2 = q0y - q1y
    b2 = q1x - q0x
    c2 = q1x * q0y - q0x * q1y
    det = a1 * b2 - a2 * b1
    with np.errstate(divide="ignore", invalid="ignore"):
        ix = round8_np((b2 * c1 - b1 * c2) / det)
        iy = round8_np((a1 * c2 - a2 * c1) / det)
    plx, phx, ply, phy = (v[:, None] for v in _rounded_span(p0, p1))
    qlx, qhx, qly, qhy = _rounded_span(q0, q1)
    ok = (
        (det != 0)
        & (ix >= plx) & (ix <= phx) & (iy >= ply) & (iy <= phy)
        & (ix >= qlx) & (ix <= qhx) & (iy >= qly) & (iy <= qhy)
    )
    return ix, iy, ok


def line_segments(line: np.ndarray, closing: bool = False):
    """Line → list of segments ((x1,y1),(x2,y2)); optionally with the closing
    segment (lib/spatial/line.go:52-66)."""
    pts = [(float(x), float(y)) for x, y in np.asarray(line, np.float64)]
    segs = [(pts[i], pts[i + 1]) for i in range(len(pts) - 1)]
    if closing:
        segs.append((pts[-1], pts[0]))
    return segs


def line_intersections(line: np.ndarray, segments) -> set[tuple[float, float]]:
    """Dedup'd intersection points of a line vs segment set
    (lib/spatial/line.go:68-83). Returns a set (the reference uses a map)."""
    out: set[tuple[float, float]] = set()
    for seg in line_segments(line):
        for seg2 in segments:
            ipt, ok = segment_intersection(seg, seg2)
            if ok:
                out.add(ipt)
    return out


# --------------------------------------------------------------------------
# point-in-polygon — ray casting (lib/spatial/point.go:72-101)
# --------------------------------------------------------------------------


def ring_bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    r = np.asarray(ring, np.float64)
    return (
        float(r[:, 0].min()),
        float(r[:, 1].min()),
        float(r[:, 0].max()),
        float(r[:, 1].max()),
    )


def point_in_polygon(px: float, py: float, polygon) -> bool:
    """Exact port of Point.InPolygon (lib/spatial/point.go:72-101):
    bbox pretest on ring 0 only; ray from the point to a point strictly
    outside (bbox.SW - (1,1)); count UNIQUE rounded intersections with ALL
    rings' segments (incl. closing segments); odd → inside; even → inside
    only if some intersection equals the tested point (boundary rule)."""
    minx, miny, maxx, maxy = ring_bbox(polygon[0])
    if not (minx <= px <= maxx and miny <= py <= maxy):
        return False

    allsegs = []
    for ring in polygon:
        allsegs.extend(line_segments(ring, closing=True))

    out_pt = (minx - 1.0, miny - 1.0)
    ray = np.array([[px, py], out_pt], dtype=np.float64)
    inters = line_intersections(ray, allsegs)
    if len(inters) % 2 == 0:
        return any(ix == px and iy == py for ix, iy in inters)
    return True


def points_in_polygon_np(px: np.ndarray, py: np.ndarray, polygon) -> np.ndarray:
    """Vectorized ray-casting PIP over a batch of points vs ONE polygon.

    Produces identical booleans to :func:`point_in_polygon` (same formulas,
    same 8-decimal rounding, same unique-intersection counting, same boundary
    tie-break), evaluated as numpy batch ops — this is the refinement kernel
    of the spatial join (SURVEY.md J6).
    """
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    n = px.shape[0]
    if n == 0:
        return np.zeros(0, dtype=bool)

    if len(polygon[0]) == 0:
        return np.zeros(n, dtype=bool)  # an empty shell contains no point
    minx, miny, maxx, maxy = ring_bbox(polygon[0])
    pre = (px >= minx) & (px <= maxx) & (py >= miny) & (py <= maxy)
    if not pre.any():
        return np.zeros(n, dtype=bool)

    # all segments of all rings, incl. closing (lib/spatial/point.go:78-83),
    # as contiguous per-axis (M,) starts s0 and ends s1
    rings = [np.asarray(r, np.float64) for r in polygon]
    s0 = tuple(np.concatenate([r[:, k] for r in rings]) for k in (0, 1))
    s1 = tuple(np.concatenate([np.roll(r[:, k], -1) for r in rings]) for k in (0, 1))

    ox, oy = minx - 1.0, miny - 1.0  # outside test point (point.go:86)

    # The core builds (N,M) matrices: at the join's recommended 512k-row
    # Arrow batches against a 10k-vertex polygon that is ~40 GB per float64
    # matrix — instant executor OOM. Bound peak memory by (a) evaluating
    # only the points that survived the bbox pretest and (b) chunking the
    # point axis so each matrix stays ~2M elements regardless of M.
    out = np.zeros(n, dtype=bool)
    idx = np.flatnonzero(pre)
    chunk = max(1, _PIP_CHUNK_ELEMS // max(len(s0[0]), 1))
    for lo in range(0, len(idx), chunk):
        sel = idx[lo : lo + chunk]
        out[sel] = _pip_rays(px[sel], py[sel], s0, s1, ox, oy)
    return out


_PIP_CHUNK_ELEMS = 2_000_000  # per-(N,M)-matrix element budget (~32 MB complex)


def _pip_rays(px, py, s0, s1, ox, oy):
    """Dense ray-cast core over one point chunk vs one segment soup: the
    rays (p → the outside point) are the ``p`` side of segment_cross_np."""
    ix, iy, valid = segment_cross_np((px, py), (ox, oy), s0, s1)

    # unique intersection count per point (the reference dedups via a set)
    key = np.where(valid, ix + 1j * iy, np.complex128(np.inf + 1j * np.inf))
    key.sort(axis=1)  # complex sort: by real, then imag; invalids sort last
    first = valid.any(axis=1)
    distinct = np.sum((key[:, 1:] != key[:, :-1]) & np.isfinite(key[:, 1:]), axis=1)
    counts = distinct + first.astype(np.int64)

    hits_self = (valid & (ix == px[:, None]) & (iy == py[:, None])).any(axis=1)
    return np.where(counts % 2 == 1, True, hits_self)


# --------------------------------------------------------------------------
# area / winding (lib/spatial/line.go:156-169, lib/spatial/polygon.go:48-72)
# --------------------------------------------------------------------------


def ring_area2(ring: np.ndarray) -> float:
    """Signed double-area, Go formula sum((y_i + y_j) * (x_i - x_j))
    (lib/spatial/line.go:160-169). >0 means clockwise."""
    r = np.asarray(ring, np.float64)
    rn = np.roll(r, -1, axis=0)
    return float(np.sum((r[:, 1] + rn[:, 1]) * (r[:, 0] - rn[:, 0])))


def is_clockwise(ring: np.ndarray) -> bool:
    return ring_area2(ring) > 0


def fix_winding(polygon) -> list[np.ndarray]:
    """Polygon.FixWinding (lib/spatial/polygon.go:48-72): ring 0 clockwise;
    any other ring contained in an odd number of *other* rings is a hole →
    counter-clockwise; else clockwise. Returns new ring list."""
    rings = [np.asarray(r, np.float64).copy() for r in polygon]
    for n, ring in enumerate(rings):
        if n == 0:
            if not is_clockwise(ring):
                rings[0] = ring[::-1].copy()
            continue
        inrings = 0
        for m, other in enumerate(rings):
            if m == n:
                continue
            if point_in_polygon(float(ring[0, 0]), float(ring[0, 1]), [other]):
                inrings += 1
        cw = is_clockwise(ring)
        if (inrings % 2 == 0 and not cw) or (inrings % 2 == 1 and cw):
            rings[n] = ring[::-1].copy()
    return rings


def ring_center(ring: np.ndarray) -> tuple[float, float]:
    """Polygon-centroid formula over a ring (lib/spatial/line.go:35-50)."""
    r = np.asarray(ring, np.float64)
    rn = np.roll(r, -1, axis=0)
    cross = r[:, 0] * rn[:, 1] - r[:, 1] * rn[:, 0]
    s = float(np.sum(cross))
    cx = float(np.sum((r[:, 0] + rn[:, 0]) * cross))
    cy = float(np.sum((r[:, 1] + rn[:, 1]) * cross))
    z = 1.0 / (3.0 * s)
    return (cx * z, cy * z)


def validate_topology(polygon) -> bool:
    """Ring self-intersection check (lib/spatial/polygon.go:74-106): every
    segment pair per ring; an intersection that is not one of the segment's
    own endpoints is a topology error."""
    for ring in polygon:
        segs = line_segments(np.asarray(ring, np.float64), closing=True)
        for i, seg in enumerate(segs):
            for j, seg2 in enumerate(segs):
                if i == j:
                    continue
                ipt, ok = segment_intersection(seg, seg2)
                if ok and ipt != seg[0] and ipt != seg[1]:
                    return False
    return True


# --------------------------------------------------------------------------
# simplification — Ramer-Douglas-Peucker (lib/spatial/line.go:171-200)
# --------------------------------------------------------------------------


def _dist_seg_pt(sx1, sy1, sx2, sy2, px, py):
    """Segment.DistanceToPt (lib/spatial/line.go:350-379)."""
    a, b = px - sx1, py - sy1
    c, d = sx2 - sx1, sy2 - sy1
    dot = a * c + b * d
    len_sq = c * c + d * d
    param = dot / len_sq if len_sq != 0 else 0.0
    if param < 0:
        xx, yy = sx1, sy1
    elif param > 1:
        xx, yy = sx2, sy2
    else:
        xx, yy = sx1 + param * c, sy1 + param * d
    dx, dy = px - xx, py - yy
    return math.sqrt(dx * dx + dy * dy)


def simplify_rdp(line: np.ndarray, epsilon: float) -> np.ndarray:
    """RDP with the reference's exact recursion/strictness
    (lib/spatial/line.go:171-200): max distance computed over interior points
    (skipping index 0 and the last point); split only when maxDist > epsilon
    strictly; otherwise collapse to the 2 endpoints. Iterative stack form."""
    pts = np.asarray(line, np.float64)
    if len(pts) < 3:
        return pts.copy()

    # Explicit-stack keep-mask form: identical output to the reference's
    # recursion, but bounded memory on adversarial inputs (a decreasing-
    # amplitude zigzag makes the split point always index 1, nesting O(n)
    # deep and overflowing the Python stack at a few thousand vertices).
    keep = np.zeros(len(pts), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(pts) - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        sx1, sy1 = float(pts[lo, 0]), float(pts[lo, 1])
        sx2, sy2 = float(pts[hi, 0]), float(pts[hi, 1])
        max_dist, index = 0.0, lo
        for i in range(lo + 1, hi):
            dist = _dist_seg_pt(sx1, sy1, sx2, sy2, float(pts[i, 0]), float(pts[i, 1]))
            if dist > max_dist:
                max_dist, index = dist, i
        if max_dist > epsilon:
            keep[index] = True
            stack.append((lo, index))
            stack.append((index, hi))
    return pts[keep].copy()


# --------------------------------------------------------------------------
# line stitching / merge (lib/spatial/merge.go)
# --------------------------------------------------------------------------


def merge_lines(l1: np.ndarray, l2: np.ndarray):
    """mergeLines (lib/spatial/merge.go:104-113): only tail-to-head stitches.
    Returns (merged, True) or (l1, False)."""
    if tuple(l1[-1]) == tuple(l2[0]):
        return np.concatenate([l1, l2[1:]]), True
    if tuple(l2[-1]) == tuple(l1[0]):
        return np.concatenate([l2, l1[1:]]), True
    return l1, False


def merge_features(features: list[dict]) -> list[dict]:
    """MergeFeatures (lib/spatial/merge.go:6-30): bucket features by exact
    property-map equality (first-seen bucket order), then within each bucket
    repeatedly stitch LineStrings until a fixpoint. Non-line geometries pass
    through. Features are dicts: {"geom_type": int, "coords": ..., "props": dict}.
    """
    if len(features) == 1:
        return features

    # bucket by exact property-map equality. Hash path: a sorted-items
    # tuple key is equal exactly when the dicts are (str keys can't tie,
    # so values are never compared during the sort; value hashing matches
    # dict `==` semantics, e.g. 1 vs 1.0). Unhashable values (never
    # produced by the MVT/GeoJSON decoders, but possible via the public
    # API) fall back to the reference's linear scan.
    buckets: list[list[dict]] = []
    try:
        by_key: dict = {}
        for ft in features:
            key = tuple(sorted(ft["props"].items()))
            b = by_key.get(key)
            if b is None:
                b = by_key[key] = [ft]
                buckets.append(b)  # first-seen bucket order
            else:
                b.append(ft)
    except TypeError:
        buckets = []
        for ft in features:
            for b in buckets:
                if b[0]["props"] == ft["props"]:
                    b.append(ft)
                    break
            else:
                buckets.append([ft])

    for b in buckets:
        # the fixpoint loop only ever changes LineString pairs; a bucket
        # with fewer than two lines is already at its fixpoint
        if sum(1 for ft in b if ft["geom_type"] == 2) < 2:
            continue
        while True:
            start = len(b)
            if start == 1:
                break
            _search_and_merge(b)
            if len(b) == start:
                break

    out = []
    for b in buckets:
        out.extend(b)
    return out


def _search_and_merge(fts: list[dict]) -> None:
    """searchAndMerge (lib/spatial/merge.go:67-102), in-place on the bucket."""
    ignore: set[int] = set()
    for ref_id in range(len(fts)):
        if ref_id in ignore:
            continue
        for i, ft in enumerate(fts):
            if i in ignore or i == ref_id:
                continue
            if ft["geom_type"] != fts[ref_id]["geom_type"]:
                continue
            if ft["geom_type"] == 2:  # LineString
                merged, ok = merge_lines(fts[ref_id]["coords"], ft["coords"])
                if ok:
                    fts[ref_id] = dict(fts[ref_id], coords=merged)
                    ignore.add(i)
    if ignore:
        fts[:] = [ft for pos, ft in enumerate(fts) if pos not in ignore]


def chain_segments(segs: list) -> list[np.ndarray]:
    """NewLinesFromSegments (lib/spatial/line.go:10-23): re-chain contiguous
    segments into lines; a break starts a new line."""
    lines: list[list] = [[]]
    for i, seg in enumerate(segs):
        if i != 0 and seg[0] != segs[i - 1][1]:
            lines[-1].append(segs[i - 1][1])
            lines.append([seg[0]])
            continue
        lines[-1].append(seg[0])
    lines[-1].append(segs[-1][1])
    return [np.asarray(ln, np.float64) for ln in lines]


# --------------------------------------------------------------------------
# distance / bearing (lib/spatial/point.go:107-123, lib/spatial/line.go:382-392)
# --------------------------------------------------------------------------

EARTH_RADIUS_M = 6371000.0  # lib/spatial/point.go:105


def haversine(lon1, lat1, lon2, lat2):
    """Haversine meters, scalar or numpy arrays (lib/spatial/point.go:108-123)."""
    lon1, lat1, lon2, lat2 = (np.asarray(v, np.float64) for v in (lon1, lat1, lon2, lat2))
    rl1, rl2 = np.radians(lat1), np.radians(lat2)
    dlat = rl2 - rl1
    dlon = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(rl1) * np.cos(rl2) * np.sin(dlon / 2) ** 2
    c = 2 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))
    out = c * EARTH_RADIUS_M
    return float(out) if out.ndim == 0 else out


def bearing(lon1, lat1, lon2, lat2) -> float:
    """Initial heading in degrees (lib/spatial/line.go:382-392)."""
    dlon = math.radians(lon2 - lon1)
    la1, la2 = math.radians(lat1), math.radians(lat2)
    y = math.sin(dlon) * math.cos(la2)
    x = math.cos(la1) * math.sin(la2) - math.sin(la1) * math.cos(la2) * math.cos(dlon)
    return math.fmod(math.degrees(math.atan2(y, x)) + 360.0, 360.0)


def dist_points_to_line_np(
    px: np.ndarray, py: np.ndarray, line: np.ndarray
) -> np.ndarray:
    """Vectorized min distance from each point to a polyline — the batch
    form of Segment.DistanceToPt (lib/spatial/line.go:350-379): clamped
    projection onto each segment, planar degree metric, min over segments.

    Chunked on the point axis: the pairwise core allocates (n, m, 2)
    arrays, which at a 512k-point Arrow batch against a long polyline is
    tens of GB — the same bound as points_in_polygon_np applies. A
    one-point line is one zero-length segment (the ``len_sq == 0`` branch
    of :func:`_dist_seg_pt`)."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    r = np.asarray(line, dtype=float)
    if len(r) == 1:
        r = np.concatenate([r, r])
    s1 = r[:-1]  # (m, 2)
    s2 = r[1:]
    d = s2 - s1
    len_sq = (d * d).sum(axis=1)  # (m,)
    n, m = px.shape[0], len(s1)
    out = np.empty(n, np.float64)
    chunk = max(1, _PIP_CHUNK_ELEMS // max(m, 1))
    for lo in range(0, n, chunk):
        # pairwise: points (c, 1, 2) vs segments (1, m, 2)
        p = np.stack([px[lo : lo + chunk], py[lo : lo + chunk]], axis=1)[:, None, :]
        a = p - s1[None, :, :]
        dot = (a * d[None, :, :]).sum(axis=2)  # (c, m)
        with np.errstate(divide="ignore", invalid="ignore"):
            param = np.where(len_sq[None, :] != 0, dot / len_sq[None, :], 0.0)
        param = np.clip(param, 0.0, 1.0)
        proj = s1[None, :, :] + param[:, :, None] * d[None, :, :]
        diff = p - proj
        dist = np.sqrt((diff * diff).sum(axis=2))  # (c, m)
        out[lo : lo + chunk] = dist.min(axis=1)
    return out
