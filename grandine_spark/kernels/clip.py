"""Geometry clipping to a bbox (the per-tile clip mask).

- point clip: lib/spatial/point.go:23-29
- segment clip: exact port of the split casework, lib/spatial/line.go:270-310
- linestring clip: fast paths + per-segment clip + re-chaining,
  lib/spatial/line.go:101-136
- polygon clip: fast-path short circuits (lib/spatial/polygon.go:26-40,
  quirks included) + GEOS-parity rectangle intersection as the general path
  (lib/spatial/clip_geos.go:11-41 semantics): a concave polygon straddling
  the bbox splits into MULTIPLE result polygons, holes are preserved, holes
  cut open at the bbox edge merge into their shell's boundary, and
  degenerate (zero-area) products are dropped — the same cleanups GEOS's
  Buffer(0) repair performs. Implemented as four sequential half-plane cuts
  over the even-odd ring soup with parity stitching along each cut line
  (Weiler–Atherton specialised to an axis-aligned rectangle).
"""

from __future__ import annotations

import numpy as np

from .geometry import (
    chain_segments,
    ring_bbox,
    segment_cross_np,
    segment_intersection,
)
from .rounding import round8, round8_np

# bbox is (minx, miny, maxx, maxy) everywhere in this module.


def clip_point(px: float, py: float, bbox) -> bool:
    minx, miny, maxx, maxy = bbox
    return minx <= px <= maxx and miny <= py <= maxy


def _bbox_borders(bbox):
    """BBoxBorders, counter-clockwise from SW (lib/spatial/line.go:395-415)."""
    minx, miny, maxx, maxy = bbox
    return [
        ((minx, miny), (minx, maxy)),
        ((minx, maxy), (maxx, maxy)),
        ((maxx, maxy), (maxx, miny)),
        ((maxx, miny), (minx, miny)),
    ]


def _seg_fully_in(seg, bbox) -> bool:
    """Segment.FullyInBBox — compares against ROUNDED bbox corners
    (lib/spatial/line.go:312-321)."""
    minx, miny = round8(bbox[0]), round8(bbox[1])
    maxx, maxy = round8(bbox[2]), round8(bbox[3])
    (x1, y1), (x2, y2) = seg
    return (
        x1 >= minx
        and y1 >= miny
        and x2 >= minx
        and y2 >= miny
        and x1 <= maxx
        and y1 <= maxy
        and x2 <= maxx
        and y2 <= maxy
    )


def _seg_len_nonzero(seg) -> bool:
    return seg[0] != seg[1]


def clip_segment(seg, bbox):
    """Segment.ClipToBBox (lib/spatial/line.go:270-310): returns [] or [seg'].

    Intersect with the 4 borders in ccw order; try both halves of each split;
    if the segment crosses the bbox (both endpoints outside) try double splits
    with every other intersection point.
    """
    intersections = []
    for border in _bbox_borders(bbox):
        ipt, ok = segment_intersection(seg, border)
        if ok:
            intersections.append(ipt)

    for i, ipt in enumerate(intersections):
        halves = ((seg[0], ipt), (ipt, seg[1]))
        for h in halves:
            if _seg_len_nonzero(h) and _seg_fully_in(h, bbox):
                return [h]
        for ii, iipt in enumerate(intersections):
            if i == ii:
                continue
            for h in halves:
                for hh in ((h[0], iipt), (iipt, h[1])):
                    if _seg_len_nonzero(hh) and _seg_fully_in(hh, bbox):
                        return [hh]
    return []


def clip_line(line: np.ndarray, bbox) -> list[np.ndarray]:
    """Line.ClipToBBox (lib/spatial/line.go:101-136): bbox fast paths, then
    per-segment clip and re-chaining of contiguous runs into sublines.

    The per-segment dispatch is vectorized: the fully-in test (raw
    endpoints vs ROUNDED bbox corners — _seg_fully_in's exact arithmetic)
    and a provably-empty skip run as numpy masks over all segments, and
    only straddling segments pay clip_segment. The skip is exact:
    clip_segment accepts an intersection only when _has_point passes for
    the segment AND a border, both bounds tests on round8'd endpoints —
    so a segment whose round8'd bbox is disjoint from the round8'd tile
    bbox can never yield one, and clip_segment returns []. A line that
    crosses a deep-zoom tile has a handful of straddling segments and
    hundreds of disjoint ones; those no longer enter Python at all. A
    line with no point clips to nothing."""
    if len(line) == 0:
        return []
    minx, miny, maxx, maxy = bbox
    lminx, lminy, lmaxx, lmaxy = ring_bbox(line)

    if minx <= lminx and maxx >= lmaxx and miny <= lminy and maxy >= lmaxy:
        return [np.asarray(line, np.float64)]
    if lmaxx < minx or lmaxy < miny or lminx > maxx or lminy > maxy:
        return []

    p = np.asarray(line, np.float64)
    a, b = p[:-1], p[1:]
    rbx0, rby0 = round8(minx), round8(miny)
    rbx1, rby1 = round8(maxx), round8(maxy)
    fully = (
        (a[:, 0] >= rbx0) & (a[:, 1] >= rby0)
        & (b[:, 0] >= rbx0) & (b[:, 1] >= rby0)
        & (a[:, 0] <= rbx1) & (a[:, 1] <= rby1)
        & (b[:, 0] <= rbx1) & (b[:, 1] <= rby1)
    )
    rp = round8_np(p)
    ra, rb_ = rp[:-1], rp[1:]
    disj = (
        (np.maximum(ra[:, 0], rb_[:, 0]) < rbx0)
        | (np.minimum(ra[:, 0], rb_[:, 0]) > rbx1)
        | (np.maximum(ra[:, 1], rb_[:, 1]) < rby0)
        | (np.minimum(ra[:, 1], rb_[:, 1]) > rby1)
    )
    cutsegs = []
    for i in np.flatnonzero(~disj):
        seg = (
            (float(p[i, 0]), float(p[i, 1])),
            (float(p[i + 1, 0]), float(p[i + 1, 1])),
        )
        if fully[i]:
            cutsegs.append(seg)
            continue
        cutsegs.extend(clip_segment(seg, bbox))
    if not cutsegs:
        return []
    # NewLinesFromSegments re-chaining (lib/spatial/line.go:10-23)
    return chain_segments(cutsegs)


def _pt_in_ring_np(px: float, py: float, ring: np.ndarray) -> bool:
    """:func:`_pt_in_ring_f` for a ring already held as an ndarray — same
    even-odd half-open-edge rule, same toggle parity (the scalar twin the
    tests compare against is ``tests/ref_kernels._pt_in_ring``). Hybrid:
    the scalar loop under 128 vertices (measured 10-16x faster than the
    numpy path there — per-call array overhead dominates small rings),
    vectorized above. (A closed ring's duplicate-endpoint edge is
    degenerate and excluded by the crossing test in both variants.)"""
    p = np.asarray(ring, np.float64)
    n = len(p)
    if n < 3:
        return False
    if n < 128:
        return _pt_in_ring_f(px, py, p[:, 0].tolist(), p[:, 1].tolist())
    x1, y1 = p[:, 0], p[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    cross = (y1 > py) != (y2 > py)
    if not cross.any():
        return False
    xi = x1[cross] + (py - y1[cross]) / (y2[cross] - y1[cross]) * (
        x2[cross] - x1[cross]
    )
    return bool(np.count_nonzero(px < xi) % 2)


_AREA_EPS = 1e-12


# ---------------------------------------------------------------------------
# Ring-soup kernels of the general polygon-clip path, on flat coordinates.
#
# clip_polygon's hot shape (measured on the z13 bench coverage rows) is a
# single ring of 4-8 vertices clipped against ~1.7M tiles; a tuple per
# vertex costs one allocation per vertex per call plus tuple compares in
# every dedup/stitch test. The _f kernels below hold a ring as a (xs, ys)
# pair of plain float lists. Their tuple-point twins live in
# tests/ref_kernels.py — same control flow statement for statement, same
# IEEE expressions in the same evaluation order, so outputs are
# bit-identical (differ-enforced by tests/test_clip_fastpaths.py, the clip
# goldens, and the tile-sha cross-check).
# ---------------------------------------------------------------------------


def _pt_in_ring_f(px: float, py: float, xs: list, ys: list) -> bool:
    """Even-odd ray cast (half-open edges) — nesting tests only; the exact
    reference-semantics PIP lives in kernels.geometry."""
    inside = False
    x1, y1 = xs[-1], ys[-1]
    for x2, y2 in zip(xs, ys):
        if (y1 > py) != (y2 > py):
            if px < x1 + (py - y1) / (y2 - y1) * (x2 - x1):
                inside = not inside
        x1, y1 = x2, y2
    return inside


def _pt_on_ring_f(
    px: float, py: float, xs: list, ys: list, eps: float = 1e-12
) -> bool:
    """Does (px, py) lie on an edge of the ring, within ``eps``?"""
    x1, y1 = xs[-1], ys[-1]
    for x2, y2 in zip(xs, ys):
        if (
            min(x1, x2) - eps <= px <= max(x1, x2) + eps
            and min(y1, y2) - eps <= py <= max(y1, y2) + eps
            and abs((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)) <= eps
        ):
            return True
        x1, y1 = x2, y2
    return False


def _ring_depth_f(i: int, soup: list) -> int:
    """Even-odd nesting depth of soup[i] among the other rings: pick a
    vertex of i not on j's boundary for each containment test."""
    depth = 0
    xi, yi = soup[i]
    for j, (xj, yj) in enumerate(soup):
        if j == i:
            continue
        for px, py in zip(xi, yi):
            if not _pt_on_ring_f(px, py, xj, yj):
                if _pt_in_ring_f(px, py, xj, yj):
                    depth += 1
                break
    return depth


def _area2_f(xs: list, ys: list) -> float:
    """Twice the signed shoelace area; >0 = clockwise (reference sign
    convention, lib/spatial/line.go:160-169). Edges summed in the order
    (0,1)..(n-1,0)."""
    s = 0.0
    x1, y1 = xs[0], ys[0]
    n = len(xs)
    for i in range(1, n):
        x2, y2 = xs[i], ys[i]
        s += (x2 - x1) * (y2 + y1)
        x1, y1 = x2, y2
    s += (xs[0] - x1) * (ys[0] + y1)
    return s


def _cut_soup_f(soup: list, axis: int, v: float, sign: float) -> list:
    """Cut an even-odd ring soup by the half-plane sign·(p[axis] − v) ≥ 0.

    Invariant in AND out: interior lies locally LEFT of every directed edge
    (counter-clockwise shells, clockwise holes in y-up coords). Boundary
    chains surviving on the keep side are re-connected along the cut line by
    exit→next-entry parity pairing — the step that lets one concave ring
    split into several, and an edge-cut hole merge into its shell.

    Scalar by design: the workload is ~1.7M calls per z13 rebuild with a
    MEDIAN soup of one ring / ~5 vertices (tiny simplified fragments ×
    many tiles), where per-call numpy setup costs more than the whole cut.
    Event bookkeeping is deferred until a second chain proves the pairing
    step is needed — one chain (the overwhelmingly common case) IS the
    output ring (its exit always pairs back to its own entry, so the
    stitch walk is an identity)."""
    kept: list = []
    chains: list = []  # (xs, ys), entry..exit

    for xs, ys in soup:
        cs = xs if axis == 0 else ys
        s = [sign * (c - v) for c in cs]
        if min(s) >= 0:
            if max(s) > 0:
                kept.append((xs, ys))
            continue  # ring collapsed onto the line: degenerate, drop
        if max(s) <= 0:
            continue  # entirely on the discard side
        n = len(s)
        start = 0
        while s[start] >= 0:
            start += 1
        cur_x: list | None = None
        cur_y: list | None = None
        any_strict = False
        px_, py_, sp = xs[start], ys[start], s[start]
        for k in range(1, n + 1):
            ic = start + k
            if ic >= n:
                ic -= n
            qx, qy, sc = xs[ic], ys[ic], s[ic]
            if cur_x is None:
                if sc >= 0:  # entering the keep side
                    if sc == 0:
                        cur_x, cur_y = [qx], [qy]
                        any_strict = False
                    else:
                        t = sp / (sp - sc)
                        if axis == 0:
                            cpx, cpy = v, py_ + t * (qy - py_)
                        else:
                            cpx, cpy = px_ + t * (qx - px_), v
                        if qx != cpx or qy != cpy:
                            cur_x, cur_y = [cpx, qx], [cpy, qy]
                        else:
                            cur_x, cur_y = [cpx], [cpy]
                        any_strict = True
            else:
                if sc >= 0:
                    if qx != cur_x[-1] or qy != cur_y[-1]:
                        cur_x.append(qx)
                        cur_y.append(qy)
                    if sc > 0:
                        any_strict = True
                else:  # exiting
                    if sp == 0:
                        cpx, cpy = px_, py_
                    else:
                        t = sp / (sp - sc)
                        if axis == 0:
                            cpx, cpy = v, py_ + t * (qy - py_)
                        else:
                            cpx, cpy = px_ + t * (qx - px_), v
                    if cpx != cur_x[-1] or cpy != cur_y[-1]:
                        cur_x.append(cpx)
                        cur_y.append(cpy)
                    if any_strict:
                        chains.append((cur_x, cur_y))
                    cur_x = cur_y = None
                    any_strict = False
            px_, py_, sp = qx, qy, sc

    if not chains:
        return kept
    if len(chains) == 1:
        # sole chain's exit pairs with its own entry regardless of event
        # order (FIFO with one exit + the cyclic wrap both yield {0: 0}),
        # so the stitch emits exactly this chain
        cx, cy = chains[0]
        if cx[0] == cx[-1] and cy[0] == cy[-1]:
            cx.pop()
            cy.pop()
        if len(cx) >= 3:
            kept.append((cx, cy))
        return kept

    # (u, kind, chain_id) kind 0=exit, 1=entry — u directed along the cut
    # line with the keep side on the left; built in chain-creation order
    # (exit before entry per chain) so the stable sort ties match the
    # incremental construction
    events: list[tuple] = []
    for cid, (cx, cy) in enumerate(chains):
        if axis == 0:
            events.append((-sign * cy[-1], 0, cid))
            events.append((-sign * cy[0], 1, cid))
        else:
            events.append((sign * cx[-1], 0, cid))
            events.append((sign * cx[0], 1, cid))
    # exit at u connects to the next entry at u' ≥ u (ties: exit first so a
    # grazing-vertex chain cancels against itself)
    events.sort(key=lambda e: (e[0], e[1]))
    next_chain: dict[int, int] = {}
    pending_exits: list[int] = []
    for _, kind, cid in events:
        if kind == 0:
            pending_exits.append(cid)
        elif pending_exits:
            next_chain[pending_exits.pop(0)] = cid
    # cyclic wrap: remaining exits pair with the earliest unclaimed entries
    if pending_exits:
        claimed = set(next_chain.values())
        for _, kind, cid in events:
            if kind == 1 and cid not in claimed and pending_exits:
                next_chain[pending_exits.pop(0)] = cid
                claimed.add(cid)

    seen: set[int] = set()
    for cid in range(len(chains)):
        if cid in seen:
            continue
        rx: list = []
        ry: list = []
        c: int | None = cid
        while c not in seen:
            seen.add(c)
            cx, cy = chains[c]
            if rx and rx[-1] == cx[0] and ry[-1] == cy[0]:
                rx.extend(cx[1:])
                ry.extend(cy[1:])
            else:
                rx.extend(cx)
                ry.extend(cy)
            c = next_chain.get(c)
            if c is None:
                break
        if rx and rx[0] == rx[-1] and ry[0] == ry[-1]:
            rx.pop()
            ry.pop()
        if len(rx) >= 3:
            kept.append((rx, ry))
    return kept


def _to_np_f(xs: list, ys: list) -> np.ndarray:
    a = np.empty((len(xs), 2), np.float64)
    a[:, 0] = xs
    a[:, 1] = ys
    return a


def _assemble_polygons_f(soup: list) -> list[list[np.ndarray]]:
    """Ring soup → polygons in the reference convention: shells clockwise,
    holes counter-clockwise (Polygon.FixWinding, lib/spatial/polygon.go:48-72),
    holes attached to their immediate shell; zero-area products dropped."""
    rings: list = []
    areas: list[float] = []
    for xs, ys in soup:
        a2 = _area2_f(xs, ys)
        if abs(a2) > _AREA_EPS:
            rings.append((xs, ys))
            areas.append(a2)
    if not rings:
        return []
    if len(rings) == 1:
        (xs, ys), a2 = rings[0], areas[0]
        if a2 > 0:  # shell: CW
            return [[_to_np_f(xs, ys)]]
        return [[_to_np_f(xs[::-1], ys[::-1])]]
    depths = [_ring_depth_f(i, rings) for i in range(len(rings))]
    polys: list[list[np.ndarray]] = []
    owner: dict[int, int] = {}
    for i, (xs, ys) in enumerate(rings):
        if depths[i] % 2 == 0:
            owner[i] = len(polys)
            if areas[i] > 0:
                polys.append([_to_np_f(xs, ys)])
            else:
                polys.append([_to_np_f(xs[::-1], ys[::-1])])
    for i, (xs, ys) in enumerate(rings):
        if depths[i] % 2 == 1:
            best, best_d = None, -1
            for j in range(len(rings)):
                if depths[j] % 2 == 0 and depths[j] < depths[i] and depths[j] > best_d:
                    jx, jy = rings[j]
                    for px, py in zip(xs, ys):
                        if not _pt_on_ring_f(px, py, jx, jy):
                            if _pt_in_ring_f(px, py, jx, jy):
                                best, best_d = j, depths[j]
                            break
            if best is not None:
                if areas[i] < 0:  # hole: CCW
                    polys[owner[best]].append(_to_np_f(xs, ys))
                else:
                    polys[owner[best]].append(_to_np_f(xs[::-1], ys[::-1]))
    return polys


def ring_border_hits_batch(rings: list, bbox, eps: float = 1e-7) -> np.ndarray:
    """Per ring: does it cross a border of ``bbox``? Exactly
    ``line_intersections(closed ring, _bbox_borders(bbox)) != ∅``, the
    reference's short-circuit test (lib/spatial/polygon.go:26-40) —
    differ-tested against it. Rings may be open or closed; the closing
    segment counts like any other (a ring whose ONLY crossing is the
    closing edge must not short-circuit to "fully covers"). One numpy pass
    for MANY rings: kernels/mvt_batch runs it over all single-ring polygon
    pairs of an Arrow batch, where the clip mask is the constant
    (0, 0, extent, extent).

    Exactness: the candidate prefilter is a conservative superset of true
    border crossings under the kernel's 8-dp rounding (a crossing segment's
    bbox must come within eps of a border span; eps of 1e-7 covers the
    rounding), and every candidate runs the exact vectorized segment
    kernel (geometry.segment_cross_np) against the four borders.
    """
    nr = len(rings)
    hits = np.zeros(nr, bool)
    if nr == 0:
        return hits
    # close every ring (append first point when not already closed), then
    # concatenate; segments are consecutive point pairs that do not cross
    # a ring boundary
    blocks: list[np.ndarray] = []
    lens = np.empty(nr, np.int64)
    for i, ring in enumerate(rings):
        p = np.asarray(ring, np.float64)
        if len(p) < 2:
            lens[i] = 0
            continue
        if p[0, 0] != p[-1, 0] or p[0, 1] != p[-1, 1]:
            blocks.append(p)
            blocks.append(p[:1])
            lens[i] = len(p) + 1
        else:
            blocks.append(p)
            lens[i] = len(p)
    keep = lens > 0
    if not blocks:
        return hits
    px, py = np.ascontiguousarray(np.concatenate(blocks, axis=0).T)
    ends = np.cumsum(lens[keep])
    valid = np.ones(len(px) - 1, bool)
    valid[ends[:-1] - 1] = False  # pairs straddling ring boundaries
    rid_all = np.repeat(np.flatnonzero(keep), lens[keep] - 1)
    ax, ay = px[:-1][valid], py[:-1][valid]
    bx, by = px[1:][valid], py[1:][valid]

    minx, miny, maxx, maxy = bbox
    sxlo, sxhi = np.minimum(ax, bx), np.maximum(ax, bx)
    sylo, syhi = np.minimum(ay, by), np.maximum(ay, by)
    yov = (syhi >= miny - eps) & (sylo <= maxy + eps)
    xov = (sxhi >= minx - eps) & (sxlo <= maxx + eps)
    near_vx = ((sxlo <= minx + eps) & (sxhi >= minx - eps)) | (
        (sxlo <= maxx + eps) & (sxhi >= maxx - eps)
    )
    near_hy = ((sylo <= miny + eps) & (syhi >= miny - eps)) | (
        (sylo <= maxy + eps) & (syhi >= maxy - eps)
    )
    cand = np.flatnonzero((yov & near_vx) | (xov & near_hy))
    if cand.size == 0:
        return hits
    q0, q1 = (np.array(pts, np.float64).T for pts in zip(*_bbox_borders(bbox)))
    _, _, ok = segment_cross_np(
        (ax[cand], ay[cand]), (bx[cand], by[cand]), q0, q1
    )
    hits[np.unique(rid_all[cand[ok.any(axis=1)]])] = True
    return hits


def clip_polygon(
    polygon: list[np.ndarray], bbox, border_hit: bool | None = None
) -> list[list[np.ndarray]]:
    """Polygon.ClipToBBox with the reference's short circuits
    (lib/spatial/polygon.go:26-40), then the GEOS-parity rectangle
    intersection (lib/spatial/clip_geos.go:11-41 semantics): 0..N result
    polygons, concave straddlers split, holes preserved/merged.

    ``border_hit``: precomputed ``ring_border_hits_batch`` verdict of
    ``polygon[0]`` for single-ring polygons (kernels/mvt_batch computes it
    for a whole Arrow batch of (ring, tile) pairs in one pass); None
    computes it here. An empty shell clips to nothing.
    """
    minx, miny, maxx, maxy = bbox
    if len(polygon[0]) == 0:
        return []
    if len(polygon) == 1:
        if border_hit is None:
            border_hit = bool(ring_border_hits_batch([polygon[0]], bbox)[0])
        if not border_hit:
            rminx, rminy, rmaxx, rmaxy = ring_bbox(polygon[0])
            # bbox fully inside ring's bbox AND an interior point inside the
            # ring → emit the bbox rectangle. The interior test decides
            # between "tile fully covered" and "tile in the notch of a
            # concave ring that surrounds it without touching it" — with no
            # edge crossing the tile border, the ring is entirely outside
            # the tile, so ONE point settles which side the whole tile is
            # on. The reference (lib/spatial/polygon.go:26-40) skips this
            # test and emits a full tile for the notch case — a bug we fix
            # rather than port, like the twkb count-varint writer.
            if rminx <= minx <= rmaxx and rminx <= maxx <= rmaxx and (
                rminy <= miny <= rmaxy and rminy <= maxy <= rmaxy
            ):
                if not _pt_in_ring_np(
                    (minx + maxx) / 2.0,
                    (miny + maxy) / 2.0,
                    np.asarray(polygon[0], np.float64),
                ):
                    return []  # tile sits in a concave notch: fully outside
                rect = np.array(
                    [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy]],
                    np.float64,
                )
                return [[rect]]
            # polygon's bbox fully inside bbox → unchanged
            if minx <= rminx <= maxx and minx <= rmaxx <= maxx and (
                miny <= rminy <= maxy and miny <= rmaxy <= maxy
            ):
                return [[np.asarray(r, np.float64) for r in polygon]]

    # general path: normalise the ring soup to the cut invariant (interior
    # locally left: counter-clockwise shells, clockwise holes), then four
    # half-plane cuts, then nest/orient the surviving rings. Rings are held
    # flat — (xs, ys) float-list pairs — see the _f twins above; consecutive
    # -duplicate dedup against the previous ORIGINAL point equals dedup
    # against the last KEPT point (a dropped point equals its predecessor,
    # transitively the last kept), so the single-pass form is exact.
    soup = []
    boxes = []  # per-ring (minx, miny, maxx, maxy), maintained through cuts
    for ring in polygon:
        a = np.asarray(ring, np.float64)
        if a.size == 0:
            continue
        rx = a[:, 0].tolist()
        ry = a[:, 1].tolist()
        kx, ky = [rx[0]], [ry[0]]
        for i in range(1, len(rx)):
            x, y = rx[i], ry[i]
            if x != kx[-1] or y != ky[-1]:
                kx.append(x)
                ky.append(y)
        if len(kx) > 1 and kx[0] == kx[-1] and ky[0] == ky[-1]:
            kx.pop()
            ky.pop()
        if len(kx) >= 3:
            soup.append((kx, ky))
            boxes.append((min(kx), min(ky), max(kx), max(ky)))
    if not soup:
        return []
    if len(soup) == 1:
        # lone ring: depth 0 → shell wants CCW (area2 < 0)
        xs, ys = soup[0]
        if _area2_f(xs, ys) >= 0:
            soup = [(xs[::-1], ys[::-1])]
    else:
        norm = []
        for i, (xs, ys) in enumerate(soup):
            want_ccw = _ring_depth_f(i, soup) % 2 == 0
            is_ccw = _area2_f(xs, ys) < 0  # area2 > 0 = clockwise
            norm.append((xs, ys) if is_ccw == want_ccw else (xs[::-1], ys[::-1]))
        soup = norm
    for axis, v, sign in (
        (0, minx, 1.0),
        (0, maxx, -1.0),
        (1, miny, 1.0),
        (1, maxy, -1.0),
    ):
        # bbox prefilter — an EXACT 2-compare substitute for _cut_soup_f's
        # O(n) per-vertex sign scan: with s_i = sign·(p_i[axis] − v),
        # all(s≥0) ⟺ ring's lo ≥ v (sign>0) / hi ≤ v (sign<0), and
        # any(s>0) ⟺ hi > v / lo < v — the coordinate extrema decide the
        # trivial keep/drop branches exactly. Only genuinely straddling
        # rings enter _cut_soup_f; they never take its trivial branches, and
        # its chain-assembled output always follows trivial keeps in the
        # original's order, so soup order (which downstream nesting and
        # first-seen dict encoding observe) is unchanged.
        trivial: list = []
        tboxes: list = []
        mixed: list = []
        for pts, bx in zip(soup, boxes):
            lo, hi = (bx[0], bx[2]) if axis == 0 else (bx[1], bx[3])
            if sign > 0:
                if lo >= v:
                    if hi > v:
                        trivial.append(pts)
                        tboxes.append(bx)
                    continue
                if hi <= v:
                    continue
            else:
                if hi <= v:
                    if lo < v:
                        trivial.append(pts)
                        tboxes.append(bx)
                    continue
                if lo >= v:
                    continue
            mixed.append(pts)
        if mixed:
            assembled = _cut_soup_f(mixed, axis, v, sign)
            soup = trivial + assembled
            for xs, ys in assembled:
                tboxes.append((min(xs), min(ys), max(xs), max(ys)))
        else:
            soup = trivial
        boxes = tboxes
        if not soup:
            return []
    return _assemble_polygons_f(soup)


def clip_geom(geom_type: int, coords, bbox, border_hit: bool | None = None):
    """Polymorphic clip (lib/spatial/geom.go:373-384): returns list of
    (geom_type, coords). ``border_hit``: see clip_polygon."""
    if geom_type == 1:
        x, y = coords
        return [(1, coords)] if clip_point(x, y, bbox) else []
    if geom_type == 2:
        return [(2, ln) for ln in clip_line(coords, bbox)]
    if geom_type == 3:
        return [(3, poly) for poly in clip_polygon(coords, bbox, border_hit)]
    raise ValueError(f"unknown geom_type {geom_type}")
